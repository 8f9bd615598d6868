"""Table IO seam (SURVEY.md §7 step 6).

Production target is Iceberg (BASELINE.json: "Iceberg table of multi-turn
agent transcripts"); the sandbox ships no Iceberg runtime jars and has no
network for --packages, so the seam has two implementations:

- ParquetIO   — works everywhere; used by tests, the benchmarks and
                plans/. Incremental reads are file-list based: `input_files`
                lists a table, the manifest drops the files already
                processed, and `read_files` reads the rest.
- IcebergIO   — the production path: reads via the `iceberg` format, resumes
                via `option("start-snapshot-id", …)` incremental scans and
                checkpoints the consumed snapshot id. Constructing it without
                the Iceberg runtime on the classpath raises with instructions.

The two do not share one interface yet: plans/pipeline.py and the dedup
agents call ParquetIO's file-list methods (`input_files`, `read_files`),
which IcebergIO lacks. Running them on Iceberg needs a snapshot-based
pending set in the manifest in place of the file list.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class ParquetIO:
    """Directory-of-parquet tables: table name → <base_dir>/<name>[.parquet]."""

    base_dir: str

    def _path(self, table: str) -> str:
        p = os.path.join(self.base_dir, f"{table}.parquet")
        return p if os.path.exists(p) else os.path.join(self.base_dir, table)

    def read_files(self, spark: SparkSession, table: str, files: list[str]) -> DataFrame:
        return spark.read.parquet(*files)

    def input_files(self, spark: SparkSession, table: str) -> list[str]:
        # listed through the schema-free binaryFile source: the same file
        # index as a parquet read (hidden files skipped, partition dirs
        # walked) without the footer job a schema-less parquet read runs
        return sorted(spark.read.format("binaryFile").load(self._path(table)).inputFiles())

    def write(self, df: DataFrame, table: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.base_dir, table))


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    bucket_col: str = "conv_id",
    sort_col: str = "turn_idx",
) -> None:
    """Bucketed-table layout (north_rule: "bucket by conv_id").

    Writing the transcripts corpus bucketed on conv_id makes every
    conv_id-keyed groupBy and every join between identically-bucketed
    tables SHUFFLE-FREE: the bucketed scan already reports
    hashpartitioning(conv_id, n), so Catalyst plans the aggregate/join
    without an Exchange (asserted in tests/test_plans.py). At 100 TB this
    converts the biggest repeated shuffle (per-conversation work) into a
    storage property paid once at ingest. Iceberg equivalent:
    `bucket(n, conv_id)` partition transform, same plan effect."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, bucket_col)
        .sortBy(sort_col)
        .format("parquet")
        .saveAsTable(table)
    )


@dataclass
class IcebergIO:
    """Production Iceberg path. Requires iceberg-spark-runtime on the
    classpath and a configured catalog, e.g.::

        spark-submit --py-files logspark.zip \
          --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
          --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
          --conf spark.sql.catalog.lake.type=hive ...

    Resume contract: `read_incremental(last_snapshot)` returns only rows
    appended after that snapshot; `current_snapshot` is checkpointed by the
    manifest after a successful run (SURVEY.md §2.1 row S1).
    """

    catalog: str
    namespace: str

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _check(self, spark: SparkSession) -> None:
        if spark.conf.get(f"spark.sql.catalog.{self.catalog}", None) is None:
            raise RuntimeError(
                "Iceberg catalog not configured; add iceberg-spark-runtime via "
                "--packages and set spark.sql.catalog.<name> (see class docstring). "
                "Use ParquetIO in the sandbox."
            )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        self._check(spark)
        return spark.read.format("iceberg").load(self._ident(table))

    def read_incremental(self, spark: SparkSession, table: str, last_snapshot_id: int | None) -> DataFrame:
        self._check(spark)
        r = spark.read.format("iceberg")
        if last_snapshot_id is not None:
            r = r.option("start-snapshot-id", str(last_snapshot_id))
        return r.load(self._ident(table))

    def current_snapshot(self, spark: SparkSession, table: str) -> int | None:
        self._check(spark)
        row = (
            spark.read.format("iceberg")
            .load(self._ident(table) + ".snapshots")
            .orderBy("committed_at", ascending=False)
            .select("snapshot_id")
            .head()
        )
        return row[0] if row else None

    def write(self, df: DataFrame, table: str, mode: str = "append", partition_by: list[str] | None = None) -> None:
        self._check(df.sparkSession)
        w = df.writeTo(self._ident(table))
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
