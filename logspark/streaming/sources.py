"""Push-input landing spots (SURVEY.md §2.1 row S3: http/redis inputs).

The reference's push inputs deliver raw LINES over a wire (http POST body,
redis LPUSH payload). The Spark-native continuous equivalents are readStream
sources feeding the same pipeline:

    http/redis push  →  socket source (a line stream on a TCP port)
    file tail        →  file source  (the batch path's table, micro-batched)
    load/soak input  →  rate source  (deterministic synthetic push traffic)

A codec stage (`lines_to_transcripts`) maps each raw line into the
transcripts shape — the streaming analogue of the batch plain/json codecs —
after which `stream_pipeline` applies the identical batch DAG per
micro-batch. No operator is streaming-specific.

At scale the socket source is single-receiver; a production push pipeline
swaps it for a Kafka source (`format("kafka")`, same `value` column
contract) — `lines_to_transcripts` and everything downstream is unchanged.
That swap is config-only by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logspark.datagen import TRANSCRIPTS_DDL


def lines_to_transcripts(lines: DataFrame, codec: str = "json") -> DataFrame:
    """Map a raw line stream (single `value: string` column) into the
    transcripts shape.

    - codec="json": each line is a JSON-encoded transcript turn (the shape
      an http/redis forwarder would push); malformed lines yield all-null
      columns and surface as `_grokparsefailure`-tagged rows downstream.
    - codec="plain": the line IS the text; surrogate keys keep the schema
      total (conv_id="push", turn_idx = line hash, ingestion-time ts) —
      matching the reference's ingest-time event construction."""
    if codec == "json":
        return lines.select(F.from_json("value", TRANSCRIPTS_DDL).alias("e")).select("e.*")
    if codec == "plain":
        return lines.select(
            F.lit("push").alias("conv_id"),
            F.pmod(F.xxhash64("value"), F.lit(2**31 - 1)).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("value").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.current_timestamp().alias("ts"),
        )
    raise ValueError(f"unknown stream codec {codec!r}")


def stream_source(spark: SparkSession, cfg: dict) -> DataFrame:
    """Build the streaming DataFrame for an input config section.

    cfg examples:
        {"type": "file",   "path": ".../transcripts.parquet"}
        {"type": "socket", "host": "0.0.0.0", "port": 9999, "codec": "json"}
        {"type": "rate",   "rows_per_second": 1000}
    """
    t = cfg.get("type", "file")
    if t == "file":
        return (
            spark.readStream.schema(TRANSCRIPTS_DDL)
            .option("maxFilesPerTrigger", cfg.get("max_files_per_trigger", 8))
            .parquet(cfg["path"])
        )
    if t == "socket":
        lines = (
            spark.readStream.format("socket")
            .option("host", cfg.get("host", "localhost"))
            .option("port", cfg["port"])
            .load()
        )
        return lines_to_transcripts(lines, codec=cfg.get("codec", "json"))
    if t == "kafka":
        # The production push source. Contract: kafka's binary `value`
        # column casts to string and feeds the SAME lines_to_transcripts
        # codec as the socket source — the swap is this config section.
        # Requires the spark-sql-kafka connector jar on the classpath
        # (spark.jars.packages org.apache.spark:spark-sql-kafka-0-10_2.13);
        # absent in this sandbox, guarded by the smoke test's skip.
        lines = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", cfg["bootstrap_servers"])
            .option("subscribe", cfg["topic"])
            .option("startingOffsets", cfg.get("starting_offsets", "earliest"))
            # at 100 TB: bound per-micro-batch intake so a backlogged topic
            # cannot produce an unbounded first batch
            .option("maxOffsetsPerTrigger", cfg.get("max_offsets_per_trigger", 1_000_000))
            .load()
            .select(F.col("value").cast("string").alias("value"))
        )
        return lines_to_transcripts(lines, codec=cfg.get("codec", "json"))
    if t == "rate":
        # deterministic synthetic push traffic: the monotonic `value` drives
        # a JSON wire payload, exercising the exact socket-source code path
        # (line → json codec → transcripts) without a network peer
        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", cfg.get("rows_per_second", 1000))
            .load()
        )
        lines = rate.select(
            F.to_json(
                F.struct(
                    F.concat(F.lit("c"), (F.col("value") % 100).cast("string")).alias("conv_id"),
                    F.col("value").cast("int").alias("turn_idx"),
                    F.lit("user").alias("role"),
                    F.concat(
                        F.lit('{"k": '), (F.col("value") % 500).cast("string"), F.lit("}")
                    ).alias("text"),
                    F.lit("push").alias("tool"),
                    F.col("timestamp").alias("ts"),
                )
            ).alias("value")
        )
        return lines_to_transcripts(lines, codec="json")
    raise ValueError(f"unknown stream source type {t!r}")
