"""Continuous-ingestion dedup agent: the watch() pattern applied to
near-duplicate detection (SURVEY.md §3.1 agent mode x the training-data
dedup family).

Each tick:

  1. manifest-pending input files (same resume seam as the parse→route
     pipeline: crash mid-tick → same run_id → idempotent overwrite); the
     batch reads reuse the schema the verify corpus read inferred (the
     batch files are a subset of the corpus files);
  2. `incremental_near_dup_pairs` — MinHash signatures for the NEW batch
     only, written straight into the `SignatureStore` (the store commit),
     then the banded batch joined against one banded scan of the store
     (the batch is the broadcast side when it fits), and Jaccard verify
     reading texts only for candidate-touched docs; files already in the
     store (a crash after its commit) are replayed against it without a
     second append;
  3. verified pairs written under runs/<run_id>/pairs, counted by an
     `Observation` on that write, then the manifest commit marks the
     files processed (write-then-commit, like run()).

Union-of-ticks == one-shot uncapped whole-corpus pairs (the incremental
guarantee), so a corpus ingested file-by-file over
days yields exactly the pair set a from-scratch batch job would — the
operational shape of continuous training-data ingestion.

Single-writer: each tick holds the sink_root's WriterLock (flock), so a
concurrent ad-hoc tick cannot race the manifest commit.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logspark.operators.dedup import SignatureStore, incremental_near_dup_pairs
from logspark.plans.pipeline import WriterLock
from logspark.sources import manifest as mf
from logspark.sources.tableio import ParquetIO


def dedup_tick(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> dict:
    """One agent tick. Returns {run_id, new_files, n_pairs} (run_id None
    when nothing is pending). Safe to call from a watch()-style loop."""
    with WriterLock(sink_root):
        all_files = io.input_files(spark, table)
        manifest = mf.load_manifest(sink_root)
        pending = mf.pending_files(all_files, manifest)
        if not pending:
            return {"run_id": None, "new_files": [], "n_pairs": 0}
        rid = "d-" + hashlib.md5("\n".join(sorted(pending)).encode()).hexdigest()[:12]
        store = SignatureStore(os.path.join(sink_root, "sigstore"))

        # Crash replay is keyed PER FILE, not on the pending-set hash
        # (ADVICE r4 medium): a tick that died between the store commit and
        # the manifest commit leaves its files in store.committed_files()
        # but not in the manifest. Whether the retry sees the same pending
        # set (same rid) or a NEW file arrived first (rid changed), the
        # per-file key routes the already-ingested files through replay
        # (band against the store, never re-append), so the store can never
        # accumulate duplicate signature rows.
        ingested = store.committed_files()
        already = sorted(f for f in pending if f in ingested)
        fresh = sorted(f for f in pending if f not in ingested)

        # Verify-stage texts: only files that can hold candidate-touched
        # docs — the pending set plus every store-member file (every store
        # run records its input files). Files that land in the table
        # concurrently (after the listing above) are never scanned;
        # io.read(table) at action time would be.
        needed = set(pending) | ingested
        corpus = io.read_files(spark, table, sorted(needed & set(all_files)))

        def read_batch(files: list[str]) -> DataFrame:
            # a subset of the corpus files: read with the corpus read's
            # schema instead of running another footer-inference job
            return spark.read.schema(corpus.schema).parquet(*files)

        parts = []
        if already:
            parts.append(
                incremental_near_dup_pairs(
                    store,
                    read_batch(already),
                    corpus,
                    run_id=None,
                    threshold=threshold,
                    n_hashes=n_hashes,
                    bands=bands,
                    k=k,
                    replay=True,
                )
            )
        if fresh:
            parts.append(
                incremental_near_dup_pairs(
                    store,
                    read_batch(fresh),
                    corpus,
                    run_id=rid,
                    threshold=threshold,
                    n_hashes=n_hashes,
                    bands=bands,
                    k=k,
                    input_files=fresh,
                )
            )
        n_pairs = _write_pairs(parts, os.path.join(sink_root, "runs", rid, "pairs"))
        mf.commit_run(sink_root, mf.RunRecord(run_id=rid, input_files=pending))
        return {
            "run_id": rid,
            "new_files": pending,
            "n_pairs": n_pairs,
            "replayed_files": already,
            "corpus_files": sorted(corpus.inputFiles()),
        }


def _write_pairs(parts: list[DataFrame], out: str) -> int:
    """Union a tick's pair sets, write them to `out` and return the row
    count, observed on the write itself instead of re-reading `out`."""
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p).dropDuplicates(["a", "b"])
    obs = Observation("pairs")
    pairs.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(out)
    return obs.get["n"]


def _pin_centroids(spark, sink_root: str, centroids, first_batch_fn, n_cells: int):
    """Centroids must be FIXED for the store's lifetime (a drifting
    assignment splits cells across time), so the FIRST tick persists them
    under the sink root and every later tick — any process, any restart —
    reads the pinned copy back. Re-training means a new store generation.

    The pin is write-then-RENAME: Spark's parquet write is not atomic (it
    creates the destination dir before committing files), so gating on
    the final directory's existence over a direct write would wedge — or
    silently half-pin — after a crash mid-write. Writing to a temp dir
    and renaming makes 'centroids dir exists' mean 'fully committed',
    the same discipline as the store index. `first_batch_fn` is a thunk
    so the seed scan is only built on the first tick."""
    path = os.path.join(sink_root, "centroids")
    if not os.path.isdir(path):
        from logspark.operators.similarity import head_centroids

        c = head_centroids(first_batch_fn(), n_cells) if centroids is None else centroids
        tmp = path + ".tmp"
        c.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, path)
    return spark.read.parquet(path)


def embed_dedup_tick(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    centroids=None,
    n_cells: int = 6,
    threshold: float = 0.95,
    nprobe: int = 2,
) -> dict:
    """One EMBEDDING dedup agent tick — the vector sibling of
    `dedup_tick`: manifest-pending files → `incremental_ivf_near_dups`
    against the cell-partitioned vector store → pairs under
    runs/<rid>/pairs → manifest commit, all under the writer lock, with
    the same PER-FILE crash replay key (store provenance, not run-set
    hashes). Unlike the MinHash tick there is NO corpus re-read at all:
    the store carries the vectors, and its scan is pruned to the new
    batch's cells. Union-of-ticks == one-shot `ivf_near_dups` on the
    pinned centroids (the incremental guarantee)."""
    from logspark.operators.similarity import incremental_ivf_near_dups

    with WriterLock(sink_root):
        all_files = io.input_files(spark, table)
        manifest = mf.load_manifest(sink_root)
        pending = mf.pending_files(all_files, manifest)
        if not pending:
            return {"run_id": None, "new_files": [], "n_pairs": 0}
        rid = "e-" + hashlib.md5("\n".join(sorted(pending)).encode()).hexdigest()[:12]
        store = SignatureStore(os.path.join(sink_root, "vstore"))
        ingested = store.committed_files()
        already = sorted(f for f in pending if f in ingested)
        fresh = sorted(f for f in pending if f not in ingested)
        cents = _pin_centroids(
            spark,
            sink_root,
            centroids,
            lambda: io.read_files(spark, table, pending),
            n_cells,
        )
        parts = []
        if already:
            parts.append(
                incremental_ivf_near_dups(
                    store,
                    io.read_files(spark, table, already),
                    cents,
                    run_id=None,
                    threshold=threshold,
                    nprobe=nprobe,
                    replay=True,
                )
            )
        if fresh:
            parts.append(
                incremental_ivf_near_dups(
                    store,
                    io.read_files(spark, table, fresh),
                    cents,
                    run_id=rid,
                    threshold=threshold,
                    nprobe=nprobe,
                    input_files=fresh,
                )
            )
        n_pairs = _write_pairs(parts, os.path.join(sink_root, "runs", rid, "pairs"))
        mf.commit_run(sink_root, mf.RunRecord(run_id=rid, input_files=pending))
        return {
            "run_id": rid,
            "new_files": pending,
            "n_pairs": n_pairs,
            "replayed_files": already,
        }


def _watch(
    tick,
    store_dir: str,
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    interval_s: float,
    max_iterations: int | None,
    compact_every: int | None,
    tick_kwargs: dict,
) -> list[dict]:
    """The shared agent loop: tick → compact the store under the
    WriterLock once it holds `compact_every` runs → sleep."""
    import time

    results: list[dict] = []
    i = 0
    while max_iterations is None or i < max_iterations:
        results.append(tick(spark, io, table, sink_root, **tick_kwargs))
        store = SignatureStore(os.path.join(sink_root, store_dir))
        if compact_every is not None and len(store.committed_runs()) >= compact_every:
            with WriterLock(sink_root):
                store.compact(spark)
        i += 1
        if max_iterations is None or i < max_iterations:
            time.sleep(interval_s)
    return results


def watch_dedup(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    interval_s: float = 30.0,
    max_iterations: int | None = None,
    compact_every: int | None = 64,
    **tick_kwargs,
) -> list[dict]:
    """Continuous agent loop around `dedup_tick` — the dedup analogue of
    plans.pipeline.watch: poll for new input files every `interval_s`,
    ingest + pair + commit per tick. `max_iterations` bounds the loop for
    tests; None tails forever like the reference agent.

    `compact_every`: once the SignatureStore accumulates that many run
    directories, fold them into one (`SignatureStore.compact` — the
    small-files defense; a year of hourly ticks is ~10k directories whose
    listings start to dominate every load). Compaction preserves the
    per-file ingestion provenance the crash-replay key depends on, and
    runs under the same WriterLock as ticks so it cannot race a commit.
    None disables."""
    return _watch(
        dedup_tick, "sigstore", spark, io, table, sink_root,
        interval_s, max_iterations, compact_every, tick_kwargs,
    )


def watch_embed_dedup(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    interval_s: float = 30.0,
    max_iterations: int | None = None,
    compact_every: int | None = 64,
    **tick_kwargs,
) -> list[dict]:
    """Continuous loop around `embed_dedup_tick` — same contract as
    `watch_dedup`, over the cell-partitioned vector store. Compaction
    preserves the partitioned layout (store index carries partition_by)
    and the per-file provenance, both under the writer lock."""
    return _watch(
        embed_dedup_tick, "vstore", spark, io, table, sink_root,
        interval_s, max_iterations, compact_every, tick_kwargs,
    )


def all_pairs(spark: SparkSession, sink_root: str) -> DataFrame:
    """The union of every committed tick's verified pairs — by the
    incremental guarantee, equal to the one-shot whole-corpus pair set."""
    m = mf.load_manifest(sink_root)
    paths = [
        os.path.join(sink_root, "runs", r.run_id, "pairs")
        for r in m.runs
        if os.path.isdir(os.path.join(sink_root, "runs", r.run_id, "pairs"))
    ]
    if not paths:
        return spark.createDataFrame([], "a bigint, b bigint, jaccard double")
    return spark.read.parquet(*paths).dropDuplicates(["a", "b"])
