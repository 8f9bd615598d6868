"""SparkSession builder with the engine's tuned defaults (SURVEY.md §4/§6)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the parse→route hot path: Arrow batching for the
# pandas UDFs, long-lived reused Python workers (amortize grok-regex compile),
# AQE for runtime coalescing + skew-join handling, and split sizing so bench
# inputs yield enough tasks to keep 4N cores busy (BASELINE.md levers).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.python.worker.reuse": "true",
    # InferFiltersFromGenerate synthesizes a size(sinks)>0 filter BELOW the
    # router's explode; sinks derives from the grok pandas UDF, so the rule
    # duplicates the entire Python evaluation (2x ArrowEvalPython nodes —
    # measured 2x parse cost). The router also uses explode_outer+filter as
    # a second line of defense, but excluding the rule keeps ad-hoc plans
    # safe too.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "32m",
    # guard rail for dynamic-partition writes: bound the worst-case file
    # SIZE (file COUNT is bounded by write.files_per_sink, pipeline.write_sinks)
    "spark.sql.files.maxRecordsPerFile": "5000000",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    master: str | None = None,
    app_name: str = "logspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
