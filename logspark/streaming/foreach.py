"""Structured-Streaming execution of the batch pipeline.

go-logagent runs forever, tailing inputs (SURVEY.md §3.1 entry 2). The
Spark-native continuous form is a file-source stream over the transcripts
directory with the identical batch DAG applied per micro-batch:

    readStream (file source, maxFilesPerTrigger)
      → foreachBatch(batch_df -> pipeline.build → pipeline.write_sinks)

Design points:
- the batch code is reused UNCHANGED — `foreachBatch` hands us a plain
  DataFrame, and each micro-batch runs the batch run's own `build()` and
  `write_sinks()`: the same filter/enrich/router plan, the same routed and
  counts writes, and the same parse and per-sink observations;
- the checkpointLocation tracks which input files each micro-batch covered
  (Spark's file-source log — the streaming analogue of our batch manifest);
- **replay idempotency**: foreachBatch is only at-least-once — after a
  mid-batch failure Spark re-runs the SAME batch_id. Each micro-batch
  therefore writes its own paths, `routed/batch_id=<id>/` and
  `sink_counts/batch_id=<id>/`, with plain overwrite: a replayed batch
  replaces its own directories instead of appending duplicates, and a
  read of `routed/` or `sink_counts/` discovers `batch_id` (and `sink`)
  as partition columns. Exactly the per-run overwrite-directory
  idempotency of the batch path (manifest.py), in streaming form;
- event-time windowed aggregates with late data would use
  `withWatermark("ts", ...)` + `window(ts, ...)` *inside* the streaming DAG
  instead of foreachBatch; the reference has no late-data semantics
  (SURVEY.md §2.10), so per-batch counts match its behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from logspark.config import PipelineConfig
from logspark.plans.pipeline import build, write_sinks
from logspark.streaming.sources import stream_source


def make_batch_processor(
    cfg: PipelineConfig,
    sink_root: str,
    dims: dict[str, DataFrame] | None = None,
):
    """The foreachBatch function: the batch run's build + write_sinks into
    batch_id-keyed paths. Exposed so tests can replay a batch_id and assert
    no double counts."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_sinks(
            build(cfg, batch_df, dims),
            cfg,
            f"{sink_root}/routed/batch_id={batch_id}",
            f"{sink_root}/sink_counts/batch_id={batch_id}",
        )

    return process_batch


def stream_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_dir: str | None,
    sink_root: str,
    checkpoint_dir: str,
    dims: dict[str, DataFrame] | None = None,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
    source: DataFrame | None = None,
):
    """Returns the started StreamingQuery. With available_now=True the query
    drains everything currently available and stops — the testable mode;
    False tails forever like the reference agent. `source` accepts any
    streaming DataFrame in the transcripts shape (see streaming.sources for
    the socket/rate push-input builders); default is `stream_source`'s
    file source over `input_dir` — the tailed-directory case."""
    src = source if source is not None else stream_source(
        spark, {"type": "file", "path": input_dir, "max_files_per_trigger": max_files_per_trigger}
    )
    writer = src.writeStream.foreachBatch(
        make_batch_processor(cfg, sink_root, dims)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
