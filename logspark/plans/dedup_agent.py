"""Continuous-ingestion dedup agent: the watch() pattern applied to
near-duplicate detection (SURVEY.md §3.1 agent mode x the training-data
dedup family).

Two agents share one crash-safe tick (`_tick`): `dedup_tick` (MinHash
signatures in `sink_root/sigstore`) and `embed_dedup_tick` (IVF cell
rows in the cell-partitioned `sink_root/vstore`). A tick is one
`pipeline.locked_run` step, the same locked step `pipeline.run` takes,
so a concurrent ad-hoc tick or run cannot race the manifest commit:

  1. locked_run lists the table and takes the manifest-pending files;
     the run id is the agent's prefix plus the md5 of the pending set,
     so a retry over the same files overwrites the crashed tick's
     output, and uncommitted runs/<id> directories are GC'd;
  2. the step splits the pending files by the store's provenance
     (`committed_files()`): files already in the store (a crash after its
     commit) are replayed against it with run_id None; fresh files go
     through the incremental operator under the run id. Both operators
     take one store step, `SignatureStore.ingest`: with the run id it
     appends the batch (the store commit) and reads it back before the
     pairs are computed; with None it appends nothing;
  3. the step writes the union of both pair sets under
     runs/<run_id>/pairs, counted by an `Observation` on that write, and
     returns the RunRecord (metrics: `n_pairs`, `replayed_files`) that
     locked_run commits to the manifest;
  4. still under the lock, the store is compacted once it holds
     `COMPACT_EVERY` runs, so a cron-driven agent compacts too.

The crash sites are therefore one set for both agents and `run()`: after
the store append, after the pairs write, before the manifest commit.
`watch_dedup`/`watch_embed_dedup` run the tick on `pipeline.poll`, the
loop `pipeline.watch` uses.

Per agent: the MinHash tick verifies candidates against the texts of
`pending ∪ ingested` files only (its batch reads reuse that corpus read's
schema); the embedding tick needs no corpus re-read (the store carries
the vectors), scores against centroids pinned by its first tick, and
loads only the batch's cells of the store, with the batch schema, so its
job count does not grow with the store's runs.

Union-of-ticks == one-shot uncapped whole-corpus pairs (the incremental
guarantee), so a corpus ingested file-by-file over days yields exactly
the pair set a from-scratch batch job would — the operational shape of
continuous training-data ingestion. The signature and probe parameters
are fixed to the one-shot defaults for that reason: a later tick with
other values against the same persistent store would break it.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logspark.operators.dedup import SignatureStore, incremental_near_dup_pairs
from logspark.plans.pipeline import WriterLock, locked_run, poll
from logspark.sources import manifest as mf
from logspark.sources.tableio import ParquetIO

# A tick folds the store's run directories into one once it holds this
# many runs (`SignatureStore.compact`, the small-files defense: a year of
# hourly ticks is ~10k directories whose listings start to dominate every
# load). Compaction keeps the per-file provenance the replay key needs.
COMPACT_EVERY = 64


def _tick(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    prefix: str,
    store_dir: str,
    prepare: Callable[[SignatureStore, list[str], list[str], set[str]], tuple[Callable, dict]],
) -> dict:
    """The agent tick both agents share: one `locked_run` step (module
    docstring steps 1–3), then store compaction under the same lock.
    `prepare(store, listed, pending, ingested)` builds the agent's per-tick
    inputs and returns its pairs function `(files, run_id) -> pairs`
    (run_id None = replay) plus extra result keys. Returns {run_id,
    new_files, n_pairs, replayed_files, ...extra}; run_id is None when
    nothing is pending."""
    store = SignatureStore(os.path.join(sink_root, store_dir))
    out: dict = {}

    def step(pending: list[str], rid: str, listed: list[str]) -> mf.RunRecord:
        # Crash replay is keyed PER FILE, not on the pending-set hash
        # (ADVICE r4 medium): a tick that died between the store commit and
        # the manifest commit leaves its files in store.committed_files()
        # but not in the manifest. Whether the retry sees the same pending
        # set (same rid) or a NEW file arrived first (rid changed), the
        # per-file key routes the already-ingested files through replay
        # (paired against the store, never re-appended), so the store can
        # never accumulate duplicate rows.
        ingested = store.committed_files()
        already = sorted(f for f in pending if f in ingested)
        fresh = sorted(f for f in pending if f not in ingested)
        pairs_of, extra = prepare(store, listed, pending, ingested)
        parts = [pairs_of(already, None)] if already else []
        if fresh:
            parts.append(pairs_of(fresh, rid))
        n_pairs = _write_pairs(parts, os.path.join(sink_root, "runs", rid, "pairs"))
        out.update(n_pairs=n_pairs, replayed_files=already, **extra)
        return mf.RunRecord(
            run_id=rid,
            input_files=pending,
            metrics={"n_pairs": float(n_pairs), "replayed_files": float(len(already))},
        )

    with WriterLock(sink_root):
        rec = locked_run(spark, io, table, sink_root, None, step, prefix)
        if rec is None:
            return {"run_id": None, "new_files": [], "n_pairs": 0}
        if len(store.committed_runs()) >= COMPACT_EVERY:
            store.compact(spark)
    return {"run_id": rec.run_id, "new_files": rec.input_files, **out}


def _write_pairs(parts: list[DataFrame], out: str) -> int:
    """Union a tick's pair sets, write them to `out` and return the row
    count, observed on the write itself instead of re-reading `out`."""
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p).dropDuplicates(["a", "b"])
    obs = Observation("pairs")
    pairs.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(out)
    return obs.get["n"]


def dedup_tick(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    threshold: float = 0.5,
) -> dict:
    """One MinHash agent tick over a (doc_id, text) table. Returns
    {run_id, new_files, n_pairs, replayed_files, corpus_files} (only the
    first three, run_id None, when nothing is pending). Safe to call from
    a watch()-style loop."""

    def prepare(store, listed, pending, ingested):
        # Verify-stage texts: only files that can hold candidate-touched
        # docs — the pending set plus every store-member file (every store
        # run records its input files). Files that land in the table
        # concurrently (after the listing) are never scanned;
        # io.read(table) at action time would be.
        needed = set(pending) | ingested
        corpus = io.read_files(spark, table, sorted(needed & set(listed)))

        def pairs_of(files: list[str], run_id: str | None) -> DataFrame:
            # the batch files are a subset of the corpus files: read them
            # with the corpus read's schema instead of running another
            # footer-inference job
            batch = spark.read.schema(corpus.schema).parquet(*files)
            return incremental_near_dup_pairs(
                store, batch, corpus, run_id, threshold=threshold, input_files=files
            )

        return pairs_of, {"corpus_files": sorted(corpus.inputFiles())}

    return _tick(spark, io, table, sink_root, "d-", "sigstore", prepare)


def _pin_centroids(spark, sink_root: str, first_batch_fn):
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

        tmp = path + ".tmp"
        # 6 cells: `ivf_near_dups`' one-shot default
        head_centroids(first_batch_fn(), 6).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, path)
    return spark.read.parquet(path)


def embed_dedup_tick(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    threshold: float = 0.95,
) -> dict:
    """One EMBEDDING agent tick over a (vec_id, embedding) table — the
    vector sibling of `dedup_tick`, same protocol and result keys (no
    `corpus_files`): `incremental_ivf_near_dups` against the
    cell-partitioned vector store, whose scan is pruned to the new
    batch's cells. Union-of-ticks == one-shot `ivf_near_dups` on the
    pinned centroids (the incremental guarantee)."""
    from logspark.operators.similarity import incremental_ivf_near_dups

    def prepare(store, listed, pending, ingested):
        cents = _pin_centroids(spark, sink_root, lambda: io.read_files(spark, table, pending))

        def pairs_of(files: list[str], run_id: str | None) -> DataFrame:
            return incremental_ivf_near_dups(
                store, io.read_files(spark, table, files), cents, run_id,
                threshold=threshold, input_files=files,
            )

        return pairs_of, {}

    return _tick(spark, io, table, sink_root, "e-", "vstore", prepare)


def watch_dedup(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    interval_s: float = 30.0,
    max_iterations: int | None = None,
    threshold: float = 0.5,
) -> list[dict]:
    """Continuous agent loop around `dedup_tick` — the dedup analogue of
    plans.pipeline.watch, on the same `poll` loop: poll for new input
    files every `interval_s`, ingest + pair + commit (+ compact) per tick.
    `max_iterations` bounds the loop for tests; None tails forever like
    the reference agent. `threshold` is each tick's Jaccard threshold."""
    return poll(
        lambda: dedup_tick(spark, io, table, sink_root, threshold=threshold),
        interval_s, max_iterations,
    )


def watch_embed_dedup(
    spark: SparkSession,
    io: ParquetIO,
    table: str,
    sink_root: str,
    interval_s: float = 30.0,
    max_iterations: int | None = None,
    threshold: float = 0.95,
) -> list[dict]:
    """Continuous loop around `embed_dedup_tick` — same contract as
    `watch_dedup`, over the cell-partitioned vector store (compaction
    keeps its partitioned layout). `threshold` is each tick's cosine
    threshold."""
    return poll(
        lambda: embed_dedup_tick(spark, io, table, sink_root, threshold=threshold),
        interval_s, max_iterations,
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
