"""Stateful streaming operators (SURVEY.md §2.10, training-data brief).

Two operators the foreachBatch wrapper cannot express, built on Spark's
native streaming state machinery instead of hand-rolled state:

- **streaming_sessionize** — gap-based conversation sessionization as an
  event-time `session_window` aggregate with a watermark. This is the
  STREAMING form of operators/aggregates.sessionize (the batch lag +
  running-sum form): windows merge while turns arrive within the gap,
  and the watermark bounds state so abandoned conversations age out —
  at 100 TB-scale ingest, state is O(open sessions), not O(history).

- **streaming_exact_dedup** — cross-micro-batch exact dedup via
  `applyInPandasWithState`: the first batch to present a fingerprint
  emits ONE keeper row (min id within that batch — deterministic under
  any partitioning); every later arrival of the same fingerprint is
  dropped. This is dedup.exact_dedup's keeper selection as a continuous
  operator, and the template for any custom stateful operator the
  reference family lacks (state = one struct per group, Arrow-batched
  user code, GroupStateTimeout for TTL).

Boundary note: `session_window` starts a NEW session when the inter-turn
gap is ≥ the gap duration (window is [start, last_ts + gap)), while the
batch sessionize splits strictly > gap — they differ only when a gap
equals the threshold to the microsecond; the equivalence test asserts
that and excludes the knife-edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_sessionize(
    stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    conv_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(conv_id, session_start, session_end, n_turns) per closed-or-open
    session window. Append output mode emits a session only once the
    watermark passes its end (late turns within the watermark still merge);
    complete mode emits the running picture — tests use complete."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(conv_col),
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(conv_col, "session_start", "session_end", "n_turns")
    )


def streaming_sink_counts(
    routed_stream: DataFrame,
    watermark: str = "2 hours",
    bucket_minutes: int = 60,
    ts_col: str = "ts",
) -> DataFrame:
    """The A1 per-sink aggregate as a continuous event-time stream:
    (sink, conv_id, bucket, n) over tumbling `bucket_minutes` windows with
    late-data semantics — the native `withWatermark` + `window` form the
    batch `sink_counts` maps to when the pipeline runs as a stream (the
    foreach.py module docstring's promissory note, now real).

    Semantics (pytest-pinned):
    - a turn arriving ≤ `watermark` late still lands in its event-time
      bucket (the window's state is held open that long);
    - a turn later than the watermark is DROPPED — the price of bounded
      state; the batch path over the full table is the backfill story;
    - append output emits a (sink, conv_id, bucket) row exactly once,
      when the watermark passes the bucket end — so downstream sinks see
      finalized counts, never retractions. Buckets still open when the
      stream idles stay unemitted until more data advances the watermark.

    State is O(open windows x active (sink, conv) pairs in them) — bounded
    by watermark horizon, not stream length. Input is the ROUTED stream
    (route() applied inside the streaming DAG or a foreachBatch upstream)."""
    return (
        routed_stream.withWatermark(ts_col, watermark)
        .groupBy(
            "sink",
            "conv_id",
            F.window(F.col(ts_col), f"{bucket_minutes} minutes"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("sink", "conv_id", F.col("window.start").alias("bucket"), "n")
    )


DEDUP_OUT_DDL = "fingerprint string, keeper bigint, text string"
DEDUP_STATE_DDL = "seen boolean"


def _dedup_fn(key, pdfs, state):
    """One fingerprint group per call: emit the min-id row the first time
    the fingerprint is ever seen; afterwards emit nothing. The state row
    is a single boolean — O(1) per distinct fingerprint."""
    import pandas as pd

    if state.exists:
        # already emitted in an earlier micro-batch — drain and drop
        for _ in pdfs:
            pass
        return iter(())
    rows = pd.concat(list(pdfs), ignore_index=True)
    keeper = rows.sort_values("keeper").head(1)
    state.update((True,))
    return iter([keeper[["fingerprint", "keeper", "text"]]])


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Continuous exact dedup over a document stream: normalized-text md5
    fingerprint (identical normalization to dedup.exact_dedup), grouped by
    fingerprint, one keeper emitted per fingerprint ever — across
    micro-batches, surviving restarts via the checkpoint's state store."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    keyed = stream.select(
        F.md5(norm).alias("fingerprint"),
        F.col(id_col).cast("long").alias("keeper"),
        F.col(text_col).alias("text"),
    )
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT_DDL,
        stateStructType=DEDUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NEAR_DUP_OUT_DDL = "a bigint, b bigint"
NEAR_DUP_STATE_DDL = "ids array<bigint>, capped boolean"

EMB_NEAR_DUP_OUT_DDL = "a bigint, b bigint, sim double"
EMB_NEAR_DUP_STATE_DDL = "ids array<bigint>, vecs array<array<double>>"


def _make_emb_near_dup_fn(threshold: float):
    from logspark.operators.similarity import make_cell_scorer

    score = make_cell_scorer(threshold)

    def _fn(key, pdfs, state):
        """One IVF cell per call. Unlike the MinHash variant (candidates
        only — the stored doc's TEXT has left the stream), embedding state
        can carry the stored VECTORS, so pairs are VERIFIED in-stream by
        the batch path's own cell scorer: the stored rows go in unflagged
        and the micro-batch's fresh rows flagged, so it emits (a, b, sim)
        with sim ≥ threshold for new×stored + new×new, each pair once;
        then the new vectors are appended to the state."""
        import pandas as pd

        if state.exists:
            ids, vecs = state.get
            ids = list(ids)
            vecs = [list(v) for v in vecs]
        else:
            ids, vecs = [], []
        new = pd.concat(list(pdfs), ignore_index=True)
        fresh = new.drop_duplicates("vec_id")
        fresh = fresh[~fresh["vec_id"].isin(set(ids))]
        new_ids = [int(i) for i in fresh["vec_id"]]
        new_vecs = [list(map(float, v)) for v in fresh["embedding"]]
        out = score(ids + new_ids, vecs + new_vecs, [False] * len(ids) + [True] * len(new_ids))
        state.update((ids + new_ids, vecs + new_vecs))
        return iter([out] if len(out) else ())

    return _fn


def streaming_embedding_near_dups(
    stream: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Continuous embedding near-dup detection — the streaming form of the
    batch DEFAULT (multi-probe IVF, similarity.ivf_near_dups): each
    arriving vector is assigned to its `nprobe` nearest cells by the batch
    path's own fold-exact kernel (`similarity.ivf_assign_multi`, so cells
    match bit for bit) against a FIXED (cell, cvec) centroid table (train
    offline with train_ivf_centroids; a drifting assignment would split
    buckets across time), and per-cell state carries the cell's (id,
    vector) members, so emitted pairs are already cosine-VERIFIED at
    `threshold` by the batch path's scorer (`similarity.make_cell_scorer`),
    sims bit-identical to `ivf_near_dups`. A pair co-occurring in both
    shared cells appears once per cell with an identical sim — distinct
    downstream, mirroring the batch path's distinct. State per cell is
    O(members x dim); at production k (thousands of cells) cells are small
    by construction."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from logspark.operators.similarity import ivf_assign_multi

    if centroids.isEmpty():
        raise ValueError("streaming_embedding_near_dups: empty centroid table")
    keyed = ivf_assign_multi(
        stream.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ),
        centroids,
        nprobe,
    )
    return keyed.groupBy("cell").applyInPandasWithState(
        _make_emb_near_dup_fn(threshold),
        outputStructType=EMB_NEAR_DUP_OUT_DDL,
        stateStructType=EMB_NEAR_DUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _make_near_dup_fn(max_bucket: int | None):
    def _near_dup_fn(key, pdfs, state):
        """One (band, key) bucket per call — the streaming analogue of the
        SignatureStore's band(new) ⋈ band(store ∪ new) join: state holds the
        bucket's doc ids so far; a new batch emits new×stored + new×new
        candidate pairs and appends itself to the state. A bucket that
        exceeds max_bucket flips to capped: it emits nothing further and
        its id list is dropped (state is O(1) from then on) — the
        streaming mirror of dedup.cap_buckets' degenerate-bucket defense."""
        import pandas as pd

        if state.exists:
            stored, capped = state.get
            stored = list(stored)
        else:
            stored, capped = [], False
        if capped:
            for _ in pdfs:
                pass
            return iter(())
        new = pd.concat(list(pdfs), ignore_index=True)
        seen = set(stored)
        new_ids = sorted({int(i) for i in new["doc_id"]} - seen)
        if max_bucket is not None and len(stored) + len(new_ids) > max_bucket:
            state.update(([], True))
            return iter(())
        pairs = [(min(n, o), max(n, o)) for n in new_ids for o in stored]
        pairs += [
            (new_ids[i], new_ids[j])
            for i in range(len(new_ids))
            for j in range(i + 1, len(new_ids))
        ]
        state.update((stored + new_ids, False))
        if not pairs:
            return iter(())
        return iter([pd.DataFrame(pairs, columns=["a", "b"])])

    return _near_dup_fn


def streaming_near_dup_candidates(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Continuous MinHash/LSH near-dup candidate pairs over a document
    stream — the streaming form of dedup.incremental_near_dup_pairs'
    candidate stage (each arriving doc is 'the later member', so every
    cross-run pair is emitted by the micro-batch that ingests it).

    Per micro-batch: the zero-shuffle Arrow MinHash kernel signs the new
    docs, banding explodes them to (band, key) rows, and per-bucket state
    (the bucket's doc-id list) joins new against stored — across
    micro-batches AND restarts via the checkpoint's state store, exactly
    like the batch SignatureStore but with the store in streaming state
    rather than parquet runs. Emits raw per-band pairs; a pair sharing
    multiple bands appears once per band — distinct downstream (the
    equivalence property test does, mirroring lsh_candidates' distinct).

    Scope: CANDIDATES only. Jaccard verification needs both texts; the
    stored member's text has left the stream, so verify runs as a batch
    job over the corpus table (semi-join pruned to candidate-touched
    docs), same as the batch path. State per bucket is O(bucket size),
    bounded by max_bucket (capped buckets stop emitting and drop their
    id list — dedup.cap_buckets' defense, applied continuously).

    State SIZING rule (measured, bench/stream_state_probe.py, bands=4,
    default HDFS-backed store): state rows ≈ bands x n_docs (3.963/doc
    at both 200k and 2M docs — band-key collisions are rare at this key
    width), memory ≈ 1.1-1.9 KB/doc (226 MB at 200k, 3.70 GB at 2M;
    per-doc bytes creep up as buckets accumulate members). Extrapolated:
    ~10-20 GB of state per 10M docs. max_bucket bounds the per-bucket id
    LIST, not the bucket count, so provision executors for
    bands x n_docs x ~0.4 KB of on-heap state spread over
    spark.sql.shuffle.partitions state partitions — or switch
    spark.sql.streaming.stateStore.providerClass to the RocksDB provider
    past ~5M docs per node so state lives off-heap/on-disk."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from logspark.operators.dedup import band_signatures, minhash_signatures

    sigs = minhash_signatures(stream, id_col, text_col, n_hashes, k)
    banded = band_signatures(sigs, id_col, n_hashes, bands).select(
        "band", "key", F.col(id_col).cast("long").alias("doc_id")
    )
    return banded.groupBy("band", "key").applyInPandasWithState(
        _make_near_dup_fn(max_bucket),
        outputStructType=NEAR_DUP_OUT_DDL,
        stateStructType=NEAR_DUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
