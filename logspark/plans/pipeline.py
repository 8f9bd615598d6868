"""Config → DataFrame-DAG compiler + executed runs (SURVEY.md §3.2).

    PipelineConfig + source DataFrame
      → build():       filter chain → enrich joins → router
                       (ALL narrow — one stage, no shuffle before the sinks)
      → write_sinks(): one partitioned sink write + one per-sink-counts
                       aggregate over what it wrote, observation metrics.

run() feeds build() the manifest-pending files of the config's one table
input and commits the resume manifest; the streaming foreachBatch processor
feeds it each micro-batch and the scaling bench a whole table. All three
write through write_sinks(), so a run, a micro-batch and a bench job
execute the same plans.

Resume runs share one locked step with the dedup agents' ticks
(plans/dedup_agent.py): locked_run() takes the sink_root's WriterLock,
lists the table and loads the manifest once each, names the run (given
id, else prefix + md5 of the pending files), refuses a committed id over
a different input set, GCs uncommitted runs/<id> directories, calls the
caller's step to write under runs/<run_id> and commits the RunRecord it
returns. run() is one such step; watch() and the agents' watch loops
share one poll() loop.

Scale notes (the 100 TB story):
- Everything before the write/agg is a single narrow stage: parquet/Iceberg
  scan → Arrow-batched grok UDF → native patch/json/template exprs →
  broadcast enrich joins → sinks-array + explode. No wide dependency, so
  throughput scales with executor count (the ≥0.8 N→4N criterion).
- The routed write uses write.partitionBy("sink") — dynamic partition write,
  no shuffle inserted. The counts aggregate is the only shuffle and moves
  pre-aggregated (sink, conv_id, bucket) partials.
- Incremental runs read only manifest-pending input files (Iceberg:
  start-snapshot-id); sink writes land under runs/<run_id>/ so a crashed run
  re-executes idempotently (overwrite same path) before the manifest commit.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import time
from dataclasses import dataclass, field as dc_field
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logspark.config import PipelineConfig
from logspark.operators.aggregates import sink_counts
from logspark.operators.enrich import apply_enrich_chain
from logspark.operators.filters import GROK_FAILURE_TAG, apply_filter_chain
from logspark.operators.router import route
from logspark.sources import manifest as mf
from logspark.sources.tableio import ParquetIO

T = TypeVar("T")


@dataclass
class BuiltPipeline:
    parsed: DataFrame  # after filter chain + enrich (pre-router, all events)
    routed: DataFrame  # one row per (event, sink)
    counts: DataFrame  # (sink, conv_id, bucket, n)
    observation: Observation  # exact parse metrics: rows_in, parse_failures


@dataclass
class RunResult:
    run_id: str | None
    sink_rows: dict[str, int] = dc_field(default_factory=dict)
    metrics: dict[str, float] = dc_field(default_factory=dict)
    input_files: list[str] = dc_field(default_factory=list)


def build(
    cfg: PipelineConfig,
    src: DataFrame,
    dims: dict[str, DataFrame] | None = None,
) -> BuiltPipeline:
    """The routed DAG over `src` (a pending-files read, a micro-batch or a
    bench table), with the exact parse metrics observed on it."""
    parsed = apply_filter_chain(src, cfg.filter)
    if cfg.enrich:
        parsed = apply_enrich_chain(parsed, cfg.enrich, dims or {})

    obs = Observation("parse")
    parsed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(
            F.array_contains(F.col("tags"), GROK_FAILURE_TAG).cast("long")
        ).alias("parse_failures"),
    )

    routed = route(parsed, cfg.output)
    counts = sink_counts(routed, bucket=cfg.aggregate.get("bucket", "hour"))
    return BuiltPipeline(parsed=parsed, routed=routed, counts=counts, observation=obs)


def write_sinks(
    bp: BuiltPipeline, cfg: PipelineConfig, routed_path: str, counts_path: str
) -> dict[str, int]:
    """Write the routed DAG partitioned by sink to `routed_path`, then the
    per-sink (conv_id, bucket) counts of what landed there to `counts_path`;
    both overwrite, so a replay under the same paths is idempotent. Returns
    the nonzero per-sink row counts, observed on the routed write."""
    routed_out = bp.routed
    # File-count control. The shuffle-free dynamic-partition write produces
    # tasks x sinks files — at 100 TB (~800k input splits, 3-5 sinks) that
    # is millions of files per run, a metastore/list killer. With
    # write.files_per_sink = k, one extra shuffle repartitions on
    # (sink, hash(conv_id) % k) → ~k files per sink, each sized
    # bytes_per_sink / k (pick k so files land near the 128-512 MB sweet
    # spot). Default off: the narrow plan wins while file counts are sane.
    fps = cfg.write.get("files_per_sink")
    if fps:
        routed_out = routed_out.repartition(
            int(fps) * len(cfg.output),
            "sink",
            F.pmod(F.hash("conv_id"), F.lit(int(fps))),
        )
    # Per-sink totals are observed on the routed write itself (one exact
    # row count per configured sink) instead of re-reading the counts.
    sinks = [c["name"] for c in cfg.output]
    sink_obs = Observation("sinks")
    routed_out = routed_out.observe(
        sink_obs,
        *[F.count_if(F.col("sink") == s).alias(f"n{i}") for i, s in enumerate(sinks)],
    )
    routed_out.write.mode("overwrite").partitionBy("sink").parquet(routed_path)
    # Counts come from the WRITTEN sink, not a recomputation: the parse→route
    # stage runs exactly once, and the (sink, conv_id, ts)-only re-read is a
    # column-pruned parquet scan — tiny next to the parse cost. This also
    # makes the counts describe what physically landed in each sink. The
    # read takes the written plan's schema: no footer-inference job, and a
    # zero-row write (no sink=... directory) reads back as zero rows.
    written = bp.routed.sparkSession.read.schema(bp.routed.schema).parquet(routed_path)
    sink_counts(written, bucket=cfg.aggregate.get("bucket", "hour")).write.mode(
        "overwrite"
    ).parquet(counts_path)
    n_by_sink = sink_obs.get
    return {s: int(n_by_sink[f"n{i}"]) for i, s in enumerate(sinks) if n_by_sink[f"n{i}"]}


class WriterLock:
    """Single-writer lock over a sink_root.

    The orphan-run GC in `locked_run()` deletes every runs/<id> directory
    absent from the manifest — correct for crashed-run debris, but a
    CONCURRENT in-flight run over the same sink_root (watch agent + ad-hoc
    run, or two watchers) has not committed yet and would be reaped
    mid-write: silent data loss (ADVICE r2). logspark therefore enforces one
    writer per sink_root: `locked_run()` acquires this lock for the
    listing+GC+write+commit span and REFUSES (clear error, no deletion) if
    another live process holds it.

    Mechanics (ADVICE r3 hardening): the lock IS an `fcntl.flock` held on a
    persistently-open fd — not the file's existence. The kernel releases a
    flock when its holder dies, so a crashed writer's lock vanishes with it
    (no steal step, hence no observe-then-unlink race where two stealers
    both enter the GC-critical section, and no window where a reader sees
    an empty just-created file and unlinks a LIVE writer's lock). The pid
    written into the file is diagnostic only — it names the holder in the
    refusal error. The file itself is never unlinked: unlink+flock has the
    classic race (a waiter flocks an unlinked inode while a third process
    creates a fresh file → two writers), and a leftover 16-byte file is
    free. Multi-node note: flock over NFS/shared-fs semantics vary; a
    cluster deployment swaps this seam for a lease in the metastore/catalog
    (Iceberg commits give this for free)."""

    # path → holding instance in THIS process (re-entrant acquire: a dedup
    # tick compacting under the lock its locked_run() step also takes must
    # not deadlock on its own flock)
    _held: dict[str, "WriterLock"] = {}

    def __init__(self, sink_root: str):
        os.makedirs(sink_root, exist_ok=True)
        self.path = os.path.join(sink_root, ".writer.lock")
        # re-entrancy keys on the RESOLVED path: './out' vs 'out' vs a
        # symlinked spelling must all map to one held entry, else a nested
        # acquire flocks a second fd on the same inode and refuses against
        # its own process
        self._key = os.path.realpath(self.path)
        self.acquired = False
        self._fd: int | None = None
        self._depth = 0
        self._outer: "WriterLock | None" = None

    def __enter__(self) -> "WriterLock":
        import fcntl

        outer = WriterLock._held.get(self._key)
        if outer is not None:
            outer._depth += 1
            self._outer = outer
            return self
        fd = os.open(self.path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            try:
                holder = int((os.read(fd, 64) or b"0").decode().strip() or "0")
            except (OSError, ValueError):
                holder = 0
            os.close(fd)
            raise RuntimeError(
                f"sink_root {os.path.dirname(self.path)!r} is locked by "
                f"live writer pid {holder}; logspark enforces a single "
                "writer per sink_root (concurrent runs would race the "
                "orphan-run GC)"
            ) from None
        os.ftruncate(fd, 0)
        os.write(fd, str(os.getpid()).encode())
        self._fd = fd
        self._depth = 1
        self.acquired = True
        WriterLock._held[self._key] = self
        return self

    def __exit__(self, *exc) -> None:
        import fcntl

        if self._outer is not None:
            self._outer._depth -= 1
            self._outer = None
            return
        if self.acquired:
            self._depth -= 1
            if self._depth <= 0:
                WriterLock._held.pop(self._key, None)
                assert self._fd is not None
                fcntl.flock(self._fd, fcntl.LOCK_UN)
                os.close(self._fd)
                self._fd = None
                self.acquired = False


def locked_run(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    run_id: str | None,
    step: Callable[[list[str], str, list[str]], mf.RunRecord],
    prefix: str,
    incremental: bool = True,
) -> mf.RunRecord | None:
    """The one crash-safe run protocol behind `run()` and both dedup
    ticks. Under the sink_root's WriterLock it lists `table` and loads the
    manifest once each, takes the pending files (all files when not
    `incremental`), names the run (`run_id`, else `prefix` + md5 of the
    file set, so a crashed run's retry over the same files reuses its id
    and overwrites its output), GCs uncommitted runs/<id> directories,
    calls `step(files, run_id, listed)` to write under runs/<run_id> and
    commits the RunRecord it returns. Returns that record, or None when
    nothing is pending.

    The fault sites are therefore one set for every caller: inside
    `step` (after any of its writes) and before the manifest commit."""
    with WriterLock(sink_root):
        listed = io.input_files(spark, table)
        m = mf.load_manifest(sink_root)
        files = mf.pending_files(listed, m) if incremental else listed
        if not files:
            return None  # nothing new — resume with no work
        run_id = run_id or prefix + hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()[:12]

        # A run_id already committed with a DIFFERENT input set must not be
        # silently replaced: commit_run would drop the old record's
        # input_files from the manifest and the overwrite would clobber its
        # output.
        prior = next((r for r in m.runs if r.run_id == run_id), None)
        if prior is not None and set(prior.input_files) != set(files):
            raise ValueError(
                f"run_id {run_id!r} already committed over a different input set; "
                "choose a fresh run_id (crashed-run retries reuse the SAME id)"
            )
        # GC orphan run directories: a crash after a write but before the
        # manifest commit leaves runs/<id>/ with no manifest record; a retry
        # under a NEW run_id would otherwise leave those rows double-counted
        # on any recursive read of runs/.
        runs_dir = os.path.join(sink_root, "runs")
        committed = {r.run_id for r in m.runs}
        if os.path.isdir(runs_dir):
            for d in os.listdir(runs_dir):
                if d not in committed and d != run_id:
                    shutil.rmtree(os.path.join(runs_dir, d), ignore_errors=True)

        record = step(files, run_id, listed)
        mf.commit_run(sink_root, record)
        return record


def poll(tick: Callable[[], T | None], interval_s: float, max_iterations: int | None) -> list[T]:
    """The agent loop shared by `watch` and the dedup agents: call `tick`,
    keep its non-None results, sleep `interval_s` between ticks.
    `max_iterations` bounds the loop for tests; None tails forever like
    the reference agent."""
    results: list[T] = []
    i = 0
    while max_iterations is None or i < max_iterations:
        r = tick()
        if r is not None:
            results.append(r)
        i += 1
        if max_iterations is None or i < max_iterations:
            time.sleep(interval_s)
    return results


def watch(
    spark: SparkSession,
    config_path: str,
    io: ParquetIO,
    sink_root: str,
    dims: dict[str, DataFrame] | None = None,
    interval_s: float = 30.0,
    max_iterations: int | None = None,
) -> list[RunResult]:
    """Continuous batch-agent mode — the Spark-native analogue of the
    reference's long-running agent with etcd-backed config reload
    (SURVEY.md §3.1 entry 3): every tick RE-LOADS the config file (edits
    take effect on the next tick, no restart) and runs one incremental
    `run(run_id=None)`, whose id is derived from the pending file set, so
    a crash mid-tick retries under the SAME id (idempotent overwrite)
    instead of orphaning a directory. Returns the results of the ticks
    that had pending files."""

    def tick() -> RunResult | None:
        try:
            cfg = PipelineConfig.load(config_path)  # hot reload, every tick
        except ValueError as e:
            # a bad config push must not kill the long-running agent: the
            # tick is skipped with a diagnosable warning and the NEXT reload
            # picks up the fixed config — reference agents survive bad
            # config pushes the same way
            logging.getLogger(__name__).warning(
                "watch(): skipping this tick, config %r is invalid (%s); "
                "the next tick reloads it",
                config_path,
                e,
            )
            return None
        res = run(spark, cfg, io, sink_root, run_id=None, dims=dims)
        return res if res.input_files else None

    return poll(tick, interval_s, max_iterations)


def run(
    spark: SparkSession,
    cfg: PipelineConfig,
    io: ParquetIO,
    sink_root: str,
    run_id: str | None = None,
    dims: dict[str, DataFrame] | None = None,
    incremental: bool = True,
) -> RunResult:
    """One `locked_run` step: resume-aware read → routed write (partitioned
    by sink) → counts write → manifest commit with lineage + metrics.
    `run_id` None names the run "w-" + md5 of its pending files."""
    table = cfg.input[0]["table"]

    def step(files: list[str], rid: str, listed: list[str]) -> mf.RunRecord:
        bp = build(cfg, io.read_files(spark, table, files), dims)
        routed_path = os.path.join(sink_root, "runs", rid, "routed")
        counts_path = os.path.join(sink_root, "runs", rid, "sink_counts")
        sink_rows = write_sinks(bp, cfg, routed_path, counts_path)
        return mf.RunRecord(
            run_id=rid,
            input_files=files,
            sink_counts=sink_rows,
            # an all-empty input observes sum() over no rows as None
            metrics={k: float(v or 0) for k, v in bp.observation.get.items()},
            partition_lineage={s: os.path.join(routed_path, f"sink={s}") for s in sink_rows},
        )

    rec = locked_run(spark, io, table, sink_root, run_id, step, "w-", incremental)
    if rec is None:
        return RunResult(run_id=run_id)
    return RunResult(rec.run_id, rec.sink_counts, rec.metrics, rec.input_files)
