"""Deduplication operators for training-data pipelines.

Four families, DataFrame plans with Arrow-batched pandas UDF kernels
where per-row hashing beats interpreted Spark lambdas:

- **exact**        hash-groupBy on normalized text → keep min-id doc
- **MinHash+LSH**  shingle → n minhashes → band → bucket-join candidates
- **SimHash**      60-bit fingerprint (textops.with_simhash) → band on bit
                   chunks → hamming-verify candidates
- **n-gram Jaccard** exact Jaccard over distinct 3-gram sets, candidate
                   pairs only

Scale design (100 TB story):
- Exact dedup is ONE shuffle on a 16-byte md5 — the minimum possible.
- MinHash signatures are a ZERO-shuffle narrow map: one pandas UDF kernel
  shingles and hashes each Arrow batch of texts and emits all n minhashes
  per doc (a doc's shingles live in its own row). LSH banding then
  self-joins on (band_idx, band_key) — candidates only, never all pairs.
- The portable md5-based hash (textops.portable_hash60) keeps every step
  reproducible in DuckDB for the correctness oracle.
- Verification (exact Jaccard) runs only on LSH candidates: |candidates| is
  O(near-dups), not O(n^2). Each candidate-touched doc is one row holding
  its distinct 3-gram array, and a pair's intersection is one native
  array_intersect — no (doc, shingle) rows are exploded or joined.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from logspark.operators.textops import portable_hash60

MERSENNE_P = 2147483647  # 2^31 - 1; (p-1)^2 < 2^62 so a*h+b stays in int64

# Cross-batch k-gram md5 memo of the winnowing kernel: Python workers are
# reused and this module is imported on executors, so a module-level memo
# amortizes md5 work across batches AND tasks; repeated runs over a corpus
# hit it (BENCH/NOTES.md "MinHash kernel without the per-worker memo").
# ~146 B per entry, and the cap is checked only when a batch starts, so a
# worker can hold the cap plus one batch's new grams before the reset.
_WINNOW_MEMO: dict[str, int] = {}
_MEMO_MAX = 1 << 20


def cap_buckets(
    banded: DataFrame, max_bucket: int | None, keys: tuple[str, ...] = ("band", "key")
) -> DataFrame:
    """Oversized-bucket defense for banded self-joins (the classic LSH
    scale-killer): one degenerate band key — boilerplate docs, empty-ish
    texts sharing a signature band — makes a single bucket contribute
    O(bucket²) pairs and pins one reducer. Buckets larger than `max_bucket`
    are dropped entirely (their members are by construction *low-information*
    near-identical cliques; a capped system logs and handles them with exact
    dedup instead). The windowed count shuffles on the same (band, key) the
    self-join needs, so no extra exchange shape is introduced."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def dropped_buckets(
    banded: DataFrame, max_bucket: int, keys: tuple[str, ...] = ("band", "key")
) -> DataFrame:
    """No silent caps: the report of what cap_buckets WILL drop —
    (keys..., bucket_size, n_docs_affected rows) for every over-cap
    bucket. Run it next to any capped join when you need the audit trail
    ('what did the cap cost?'); it shares the capped join's (band, key)
    shuffle shape, so at scale it is one extra aggregate, not a new plan
    family. Members of dropped buckets are near-identical cliques that
    exact dedup handles — this report is how you prove that claim on
    your own corpus instead of trusting it."""
    return (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups by normalized-text md5; returns (fingerprint, keeper, n_dups).
    keeper = min id — deterministic under any partitioning."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.withColumn("fingerprint", F.md5(norm))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _minhash_coeffs(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p — derived from
    a fixed LCG so Spark and the SQL oracle can enumerate the same values."""
    coeffs = []
    state = seed
    for _ in range(n_hashes):
        state = (state * 1103515245 + 12345) % MERSENNE_P
        a = state or 1
        state = (state * 1103515245 + 12345) % MERSENNE_P
        b = state
        coeffs.append((a, b))
    return coeffs


def _make_minhash_kernel(coeffs: list[tuple[int, int]], k: int):
    """Arrow batch of text → one column per minhash (null if < k tokens).

    The whole shingle→hash→min pipeline runs here, Arrow-batched:
    - k-gram shingling + per-doc dedup in plain Python (split/join —
      C-speed) into one flat shingle list for the batch;
    - `pd.factorize` (a C string hash table) maps that list to the
      batch's distinct shingles, and only those are md5-hashed: the
      60-bit value is the digest's first 8 bytes shifted right by 4
      (== int(hexdigest()[:15], 16), the portable_hash60 form);
    - every (a*h + b) mod p affine map applied to the batch's flattened
      hash vector at once in numpy, segment-min per doc via
      np.minimum.reduceat. a, b, h < 2^31 so a*h + b < 2^62 — exact int64.

    No state outlives the batch, and nothing is imported from logspark, so
    the kernel runs on workers that cannot import the package (a per-worker
    memo cost memory and time: BENCH/NOTES.md "MinHash kernel without the
    per-worker memo").

    Doing shingling/md5 JVM-side was measured SLOWER: element-wise lambdas
    (transform / aggregate) are interpreted, not codegen'd, and the md5 →
    substring → conv chain per shingle costs ~6 µs interpreted vs ~1 µs
    here (BENCH/NOTES.md fix 7)."""

    def kernel(s: pd.Series) -> pd.DataFrame:
        from hashlib import md5
        import numpy as np
        import pandas as pd

        n = len(s)
        flat: list[str] = []
        lengths = np.zeros(n, dtype=np.int64)
        for j, text in enumerate(s):
            if text is None:
                continue
            toks = text.split(" ")
            if len(toks) < k:
                continue
            grams = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
            lengths[j] = len(grams)
            flat.extend(grams)

        nonempty = lengths > 0
        cols = {}
        if not flat:
            for i in range(len(coeffs)):
                cols[f"mh_{i}"] = pd.Series([pd.NA] * n, dtype="Int64")
            return pd.DataFrame(cols)
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
        uh = np.fromiter(
            (int.from_bytes(md5(u.encode()).digest()[:8], "big") >> 4 for u in uniq),
            dtype=np.int64,
            count=len(uniq),
        )
        fv = (uh % MERSENNE_P)[codes]
        starts = np.concatenate(([0], np.cumsum(lengths)))[:-1][nonempty]
        for i, (a, b) in enumerate(coeffs):
            mins = np.minimum.reduceat((fv * a + b) % MERSENNE_P, starts)
            col = np.zeros(n, dtype=np.int64)
            col[nonempty] = mins
            out = pd.Series(col, dtype="Int64")
            out[~nonempty] = pd.NA
            cols[f"mh_{i}"] = out
        return pd.DataFrame(cols)

    return kernel


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(id, mh_0 … mh_{n-1}) — ZERO shuffle.

    A doc's shingles all live in its own row, so signatures are a narrow
    map: one Arrow-batched kernel per batch of texts (see
    _make_minhash_kernel). The previous explode+groupBy form shuffled every
    (doc, shingle) pair — at 100 TB that shuffle dwarfs the hashing. Docs
    with < k words have no shingles and are dropped (matching the explode
    form and the DuckDB oracle)."""
    coeffs = _minhash_coeffs(n_hashes)
    schema = ", ".join(f"mh_{i} bigint" for i in range(n_hashes))
    # asNondeterministic (r6, guide §4.4): the < k-token filter below
    # references the UDF column, and the optimizer's filter pushdown
    # otherwise DUPLICATES the kernel — the r5 plan carried two
    # ArrowEvalPython nodes (every doc shingled+hashed twice, and every
    # consumer of sigs inherited both). The kernel is pure; the marker
    # only forbids Catalyst from re-evaluating/reordering it.
    udf = F.pandas_udf(_make_minhash_kernel(coeffs, k), schema).asNondeterministic()
    # one projection for the struct's fields: a withColumn per hash
    # re-analyses the growing plan n_hashes times on the driver
    return (
        df.select(F.col(id_col), udf(F.col(text_col)).alias("_mh"))
        .filter(F.col("_mh").getField("mh_0").isNotNull())
        .select(id_col, "_mh.*")
    )


def band_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Signature rows → (id, band, key): the LSH banding projection,
    shared by whole-corpus (`lsh_candidates`) and incremental
    (`incremental_near_dup_pairs`) candidate generation."""
    rows_per_band = n_hashes // bands
    band_entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws("_", *[F.col(f"mh_{i * rows_per_band + j}") for j in range(rows_per_band)]).alias("key"),
            )
            for i in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_entries).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join: pairs (a, b), a < b, that agree on
    at least one full band. Never materializes the n^2 pair space.
    `max_bucket` drops degenerate buckets before the self-join — at 100 TB
    this MUST be set (see cap_buckets); unset preserves exact recall for
    small corpora and the uncapped oracle.

    Both join sides recompute the MinHash kernel on purpose: checkpointing
    the banded set once lost an interleaved A/B at 500k docs (4.04 s
    recompute vs 6.16 s materialized)."""
    banded = band_signatures(sigs, id_col, n_hashes, bands)
    banded = cap_buckets(banded, max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )
    return pairs


def ngram_jaccard(df: DataFrame, threshold: float = 0.0, *, candidates: DataFrame) -> DataFrame:
    """Exact Jaccard over distinct word 3-gram sets for the candidate
    pairs: (a, b, jaccard) for each (doc_id a, doc_id b) row of
    `candidates` whose docs share at least one 3-gram. `df` holds
    (doc_id, text); docs under 3 tokens, or with null text, have no
    3-grams and so no pairs. Candidate rows must be distinct.

    Cost is O(candidate-touched docs x 3-grams/doc) and no pair space
    beyond the candidates is built:
    - the candidate list is checkpointed once (its lineage is the whole
      signature → banding → self-join chain, and it feeds both the id set
      and the pair joins);
    - only candidate-touched docs are read: the corpus is semi-joined to
      the candidate id set first (57.8 s → 3.9 s at the 500k-doc scale
      probe, bench/scale_probe.py), and AQE broadcasts that id set from
      its runtime size;
    - each touched doc becomes ONE row holding its `array_distinct` 3-gram
      array, the pairs join those rows twice on doc id (both joins read
      one exchange of the sets, so the corpus is scanned once), and the
      native `array_intersect` sizes the intersection per pair. A (doc, 3-gram)
      row per element, joined on (pair, 3-gram), lost to this set form
      (HERO, SIGMOD 2024: intersect sets, do not join their elements;
      BENCH/NOTES.md "One Jaccard verify")."""
    candidates = candidates.localCheckpoint(eager=True)
    cand_ids = (
        candidates.select(F.col("a").alias("doc_id"))
        .union(candidates.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
    )
    sets = df.join(cand_ids, "doc_id", "leftsemi").select(
        "doc_id", F.array_distinct(F.when(F.size(toks) >= 3, grams).otherwise(F.array())).alias("sh")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    # arrays_overlap keeps exactly the pairs with a shared 3-gram, before
    # any division: a pair of empty sets would divide by zero
    out = (
        candidates.join(sets.select(F.col("doc_id").alias("a"), F.col("sh").alias("sa")), "a")
        .join(sets.select(F.col("doc_id").alias("b"), F.col("sh").alias("sb")), "b")
        .filter(F.arrays_overlap("sa", "sb"))
        .select("a", "b", F.round(inter / (F.size("sa") + F.size("sb") - inter), 6).alias("jaccard"))
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS algorithm): hash every k-gram, slide a window of w consecutive
    hashes, keep each window's MINIMUM → a deterministic ~2/(w+1)-density
    fingerprint set that guarantees any shared substring of length ≥ w+k-1
    yields a shared fingerprint. Output: distinct (id, fingerprint).

    Spark shape: ZERO shuffle. A document's k-grams all live in its own
    row, so the whole pipeline — k-grams, hashes, per-window minima,
    per-doc dedup — is one narrow Arrow-batched numpy kernel followed by
    an explode. Two rejected alternatives, both measured at sf0.1:
    a windowed aggregate shuffles every k-gram hash on doc_id (the
    100 TB killer), and native array lambdas (transform/array_min/slice)
    are interpreted per element — 103 s vs ~2 s for this kernel (same
    lesson as the minhash kernel, BENCH/NOTES.md fix 7). The portable
    md5-derived hash keeps the DuckDB oracle value-identical."""
    udf = F.pandas_udf(_make_winnow_kernel(k, w), "array<bigint>")
    return df.select(
        F.col(id_col), F.explode(udf(F.col(text_col))).alias("fingerprint")
    )


def _make_winnow_kernel(k: int, w: int):
    """Arrow batch of text → array of winnowing fingerprints per doc:
    memoized md5 k-gram hashes (grams repeat across docs), sliding-window
    minima via one strided numpy view per doc, np.unique for the per-doc
    dedup. No per-row Python beyond the gram join."""
    _task_memo: dict[str, int] = {}  # fallback when logspark isn't importable

    def kernel(s: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np
        import pandas as pd

        # the kernel is pickled by value, so a global reference would ship
        # a per-task copy: resolve the memo through the worker's import,
        # falling back to the per-task closure dict when it cannot import
        try:
            from logspark.operators import dedup as _m

            memo = _m._WINNOW_MEMO
        except ImportError:
            memo = _task_memo
        if len(memo) > _MEMO_MAX:
            memo.clear()

        def h60(g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                memo[g] = v
            return v

        out = []
        for text in s:
            if text is None:
                out.append([])
                continue
            toks = text.split(" ")
            m = len(toks) - (k - 1)
            if m < w:
                out.append([])
                continue
            hh = np.fromiter(
                (h60(" ".join(toks[i : i + k])) for i in range(m)),
                dtype=np.int64,
                count=m,
            )
            mins = np.lib.stride_tricks.sliding_window_view(hh, w).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return kernel


def simhash_verified(
    df_with_simhash: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """The SimHash family's verify step: band candidates → exact Hamming
    distance over the full 60-bit fingerprints → keep pairs ≤ max_hamming.
    (Banding guarantees recall for distance ≤ n_bands-1; the verify kills
    the false positives banding lets through.) One narrow projection after
    the banded join — bit_count(xor) is a single JVM intrinsic per pair.

    r6: the (id, simhash) projection is materialized ONCE and feeds the
    banding AND both verify joins — the r5 plan re-ran the simhash kernel
    per consumer (the two hash-attach joins are narrow on their build
    side, so ReusedExchange never fired for them)."""
    h = df_with_simhash.select(F.col(id_col), "simhash").localCheckpoint(eager=True)
    cand = simhash_bands(h, id_col, n_bands, max_bucket)
    out = (
        cand.join(h.select(F.col(id_col).alias("a"), F.col("simhash").alias("_ha")), "a")
        .join(h.select(F.col(id_col).alias("b"), F.col("simhash").alias("_hb")), "b")
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    return out


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected pair list → (node, component),
    component = MIN node id reachable from the node. Deterministic (all
    reductions are mins), DataFrame-native, no GraphFrames dependency.

    Algorithm: alternating **neighbor-min propagation** (label ← min over
    own + neighbors' labels) and **pointer doubling** (label ← label's
    label), the standard MapReduce/Pregel CC shape: doubling halves the
    remaining pointer-chain depth each round, so convergence is
    O(log diameter) rounds, not O(diameter). Each round is two shuffles on
    keys the planner hashes (node / label); `localCheckpoint` truncates the
    iterative plan's lineage so round N's DAG does not replay rounds 1..N-1.
    Convergence detection is free: labels only ever DECREASE, so the global
    label sum is strictly monotone and equality between rounds == fixpoint.

    100 TB shape: near-dup graphs are overwhelmingly tiny cliques/paths
    (clusters of boilerplate variants), so real corpora converge in 2-4
    rounds; the doubling step guards the adversarial long-chain case.

    Fault tolerance: the default `localCheckpoint` stores blocks on
    executors ONLY — on a real cluster an executor loss mid-loop kills the
    truncated lineage and the job. Pass `checkpoint_dir` (HDFS/object
    store path) to switch every checkpoint in the loop to RELIABLE
    `checkpoint()` — replicated, survives executor loss — at the cost of
    a write per round. Local mode keeps the executor-local default.
    Caveats the CALLER owns with `checkpoint_dir`: (a) it calls
    `setCheckpointDir`, which is SparkContext-global — coordinate with
    other jobs sharing the context; (b) the per-round rdd-* files are not
    auto-deleted (they back the returned DataFrame's lineage) — delete
    the directory after the job's results are written, or set
    `spark.cleaner.referenceTracking.cleanCheckpoints=true` to let the
    ContextCleaner reap them on GC.

    Size-adaptive strategy: verified near-dup pair sets are usually TINY
    relative to the corpus (pairs are the exception, not the rule), and
    the iterative loop costs ~6 Spark jobs per round regardless of size.
    When the materialized edge list is ≤ `driver_threshold` rows (default
    100k ≈ 1.6 MB of longs — squarely a small-result driver read), the
    components are computed with a driver-side union-find (identical
    min-label semantics, equivalence-tested against the distributed loop)
    in ONE collect instead of O(log diameter) shuffle rounds. Measured at
    sf0.1 (477 clustered docs): dedup_clusters 4.25 → 3.85 s — modest,
    because the signature→LSH→verify chain dominates there; the payoff
    grows with round count (long chains) and disappears into the
    threshold guard at scale. Pass driver_threshold=0 to force the
    distributed loop; above the threshold the loop runs regardless."""
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # Materialize the edge list ONCE: `pairs` usually carries an expensive
    # lineage (minhash → LSH → Jaccard verify), and every CC round joins
    # edges — without this checkpoint each round would re-execute the whole
    # upstream pipeline (measured 9.6 s → 2.5 s for dedup_clusters at sf0.1).
    edges = _ckpt(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    n_edges = edges.count()  # on the checkpointed blocks — no recompute
    # driver_threshold > 0 guard: threshold=0 is the documented "force the
    # distributed loop" escape hatch and must hold even for an EMPTY edge
    # list (probes/tests read stats['strategy'] to know which path ran)
    if driver_threshold > 0 and n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        edge_rows = edges.collect()
        nodes = set()
        for r in edge_rows:
            s, d = r["src"], r["dst"]
            nodes.add(s)
            nodes.add(d)
            ra, rb = find(s), find(d)
            if ra != rb:
                # min id becomes the root → root IS the component label
                parent[max(ra, rb)] = min(ra, rb)
        if stats is not None:
            stats["rounds"] = 0
            stats["converged"] = True
            stats["strategy"] = "driver-union-find"
        from pyspark.sql.types import StructField, StructType

        id_type = edges.schema["src"].dataType
        schema = StructType(
            [StructField("node", id_type), StructField("component", id_type)]
        )
        out = [(n, find(n)) for n in sorted(nodes)]
        return pairs.sparkSession.createDataFrame(out, schema)
    if stats is not None:
        stats["strategy"] = "distributed"
    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        nbr = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("_nbl"))
            .withColumnRenamed("src", "node")
        )
        prop = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("_nbl"), F.col("label"))).alias("label"),
        )
        # pointer doubling: label ← label's current label (labels are always
        # node ids, so the parent lookup always resolves; coalesce is belt)
        parent = prop.selectExpr("node AS _pn", "label AS _pl")
        doubled = (
            prop.join(parent, F.col("label") == F.col("_pn"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("_pl"), F.col("label"))).alias("label"),
            )
        )
        labels = _ckpt(doubled)
        row = labels.agg(F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        if row["n"] == 0 or row["s"] == prev_sum:
            converged = True
            break
        prev_sum = row["s"]
    if not converged:
        # non-converged labels would silently mis-cluster (ADVICE r3):
        # dedup_apply would then drop/keep docs on wrong component ids.
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds; labels may be non-minimal — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        # observability hook: rounds-to-fixpoint (tests pin the O(log
        # diameter) claim with it; includes the final no-change round)
        stats["rounds"] = rounds
        stats["converged"] = converged
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every doc in ≥1 verified near-dup pair;
    cluster_id = min doc_id of the doc's connected component — the keeper.
    Docs in no pair are singletons and are not listed (they trivially keep
    themselves). `checkpoint_dir` switches the CC loop to reliable
    checkpoints (see connected_components) — set it on a real cluster."""
    cc = connected_components(pairs, a_col, b_col, checkpoint_dir=checkpoint_dir)
    return cc.select(F.col("node").alias(id_col), F.col("component").alias("cluster_id"))


def dedup_stats(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """One-row dedup audit — the number every dedup run should publish
    before anyone trains on its output: corpus size, clustered docs,
    cluster count, docs dropped (clustered - clusters), duplicate rate,
    and the largest cluster (a skew/near-dup-storm canary: one viral
    boilerplate string can chain thousands of docs into one component).
    Two tiny aggregates over the (doc, cluster) table + one corpus count
    — all map-side partials, no extra pass over texts."""
    per = clusters.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("sz"))
    agg = per.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(F.sum("sz"), F.lit(0)).alias("n_clustered_docs"),
        F.coalesce(F.max("sz"), F.lit(0)).alias("max_cluster_size"),
    )
    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return total.crossJoin(agg).select(
        "n_docs",
        "n_clustered_docs",
        "n_clusters",
        (F.col("n_clustered_docs") - F.col("n_clusters")).alias("n_dropped"),
        F.round(
            (F.col("n_clustered_docs") - F.col("n_clusters"))
            / F.greatest(F.col("n_docs"), F.lit(1)),
            6,
        ).alias("dup_rate"),
        "max_cluster_size",
    )


def dedup_apply(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The deduplicated corpus: every near-dup cluster keeps exactly its
    min-id member; all other cluster members are dropped; unclustered docs
    pass through. This is the step that turns verified PAIRS into a
    DECISION — which rows to keep (VERDICT r2 gap #2).

    Shape: the drop list is |cluster members| - |clusters| rows — id-only,
    a small fraction of the corpus — and is broadcast EXPLICITLY: the
    statistics-blind static plan otherwise picks a SortMergeJoin that
    shuffles+sorts the whole corpus to drop <1% of it (plan-tested)."""
    clusters = dedup_clusters(pairs, id_col, checkpoint_dir=checkpoint_dir)
    drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(F.broadcast(drop), id_col, "left_anti")


def winnow_candidates(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs from winnowing fingerprints: (a, b, n_shared) for
    docs sharing ≥ `min_shared` fingerprints — the MOSS match step, with
    the winnowing guarantee that any shared run of ≥ w+k-1 tokens surfaces
    at least one shared fingerprint. Input: `winnow_fingerprints` output.

    Scale shape mirrors LSH banding: self-join keyed on the fingerprint
    (never all-pairs), `max_bucket` drops degenerate fingerprints (the
    boilerplate-ubiquitous hash that would pin one reducer), and the
    pair aggregation is one groupBy with map-side partials."""
    fps = cap_buckets(fps, max_bucket, keys=("fingerprint",))
    l, r = fps.alias("l"), fps.alias("r")
    return (
        l.join(r, "fingerprint")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs whose 60-bit simhash agrees on ≥1 of n_bands 15-bit
    chunks (Hamming distance ≤ n_bands-1 guaranteed found). Input must carry
    a `simhash` column (textops.with_simhash).

    Band keys are extracted with INTEGER bit ops (shiftrightunsigned + AND):
    long/long division in Spark promotes to double, and 60-bit simhashes
    exceed double's 53-bit mantissa, so a float-division chunk silently
    corrupts low-band keys and loses the Hamming recall guarantee."""
    width = 60 // n_bands
    chunk = lambda i: F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(2**width - 1)
    entries = F.array(*[F.struct(F.lit(i).alias("band"), chunk(i).alias("key")) for i in range(n_bands)])
    banded = df.select(F.col(id_col), F.explode(entries).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    banded = cap_buckets(banded, max_bucket)
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(r, ["band", "key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# cross-run incremental dedup (VERDICT r2 missing #3): dedup a NEW batch
# against the already-ingested corpus without recomputing its signatures
# ---------------------------------------------------------------------------


class SignatureStore:
    """Persistent MinHash signature store for incremental dedup.

    Layout mirrors the pipeline's resume manifest (sources/manifest.py):
    signatures land under ``root/runs/<run_id>/`` as parquet and a JSON
    index is committed atomically (tmp + rename) AFTER the write, so a
    crash mid-append leaves an orphan directory that is simply ignored
    (never read, overwritten on retry under the same run_id). At 100 TB
    the store is ~n_hashes x 8 bytes per doc — 3 orders of magnitude
    smaller than the corpus — and reads are partition-pruned per run.

    Format invariant: every committed run has a ``files`` entry (its
    input files, possibly empty), so `committed_files()` is the complete
    provenance map the dedup agent's per-file replay key and verify-scan
    pruning rely on. An index with a run lacking one predates per-run
    provenance; reading it raises ValueError — rebuild such a store
    rather than silently losing the pairs of its unattributed docs.

    One `load()` serves every layout: the index's ``partition_by`` picks
    per-run scans unioned by name (partitioned runs) or one multi-path
    read (flat runs).
    """

    def __init__(self, root: str):
        import os

        self.root = root
        os.makedirs(root, exist_ok=True)

    def _index_path(self) -> str:
        import os

        return os.path.join(self.root, "index.json")

    def _run_path(self, run_id: str) -> str:
        import os

        return os.path.join(self.root, "runs", run_id)

    def _read_index(self) -> dict:
        import json
        import os

        p = self._index_path()
        if not os.path.exists(p):
            return {"runs": [], "files": {}}
        with open(p) as f:
            idx = json.load(f)
        missing = [r for r in idx["runs"] if r not in idx.get("files", {})]
        if missing:
            raise ValueError(
                f"signature store {self.root!r} has runs without input-file "
                f"provenance (first: {missing[:3]!r}); it predates per-run "
                "provenance and must be rebuilt"
            )
        return idx

    def _write_index(self, idx: dict) -> None:
        import json
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(idx, f)
        os.replace(tmp, self._index_path())

    def committed_runs(self) -> list[str]:
        return self._read_index()["runs"]

    def committed_files(self) -> set[str]:
        """Every INPUT file whose docs' signatures are committed, across
        all runs. This is the crash-replay key for the dedup agent: a tick
        that died between the store commit and the manifest commit leaves
        its files here but not in the manifest, and the retry must not
        re-append them even if the pending set has since changed (ADVICE
        r4 medium — run-set hashes are not a stable replay key)."""
        files: set[str] = set()
        for fs in self._read_index()["files"].values():
            files.update(fs)
        return files

    def append(
        self,
        sigs: DataFrame,
        run_id: str,
        input_files: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Write-then-commit: parquet first, index rename second.
        `input_files` records which source files this run's signatures came
        from (feeds `committed_files()` for per-file crash replay); omit it
        only for in-memory batches with no source files — the run is then
        committed with an empty file list.
        `partition_by` lays the run out partitioned (e.g. by IVF cell, so
        loads filtered on the partition key prune whole directories)."""
        if not run_id:
            raise ValueError("append requires a run_id")
        idx0 = self._read_index()
        if run_id in idx0["runs"]:
            raise ValueError(f"signature run {run_id!r} already committed")
        # partition_by is a store-global layout key (ADVICE r5 low): mixing
        # a partitioned append into a store with non-partitioned runs (or
        # changing the columns) breaks load()'s per-run unionByName and
        # makes compaction partition over rows lacking the column.
        if idx0["runs"] and list(partition_by or []) != list(idx0.get("partition_by") or []):
            raise ValueError(
                f"partition_by {partition_by!r} does not match the store's "
                f"existing layout {idx0.get('partition_by')!r}"
            )
        w = sigs.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._run_path(run_id))
        idx = self._read_index()
        idx["runs"] = idx["runs"] + [run_id]
        idx["files"][run_id] = sorted(input_files or [])
        if partition_by:
            idx["partition_by"] = list(partition_by)
        self._write_index(idx)

    def load(self, spark, schema: StructType | None = None) -> DataFrame | None:
        """All committed signatures, or None when the store is empty.

        The layout picks the read: for PARTITIONED runs (index
        ``partition_by``), one scan per run unioned by name — multi-path
        partition discovery chokes on the non-k=v run-dir segment between
        the common root and the cell=N directories, while a per-run scan
        keeps its own partition column and pruning (a cell filter above
        the union prunes directories in every branch). Flat runs are one
        multi-path read. `schema` (the signature schema, e.g. a batch's
        `minhash_signatures(...).schema`, which is analysis-only) skips
        the footer-inference job a schema-less parquet read runs."""
        import functools

        idx = self._read_index()
        runs = idx["runs"]
        if not runs:
            return None
        reader = spark.read if schema is None else spark.read.schema(schema)
        if not idx.get("partition_by"):
            return reader.parquet(*[self._run_path(r) for r in runs])
        dfs = [reader.parquet(self._run_path(r)) for r in runs]
        return functools.reduce(lambda a, b: a.unionByName(b), dfs)

    def require_committed(self, run_id: str | None) -> None:
        """The replay precondition of both incremental operators: the
        store holds at least one run, and `run_id` (when given) is one of
        them. run_id=None means the caller established from
        `committed_files()` that the batch's files are already ingested."""
        runs = self.committed_runs()
        if not runs or (run_id is not None and run_id not in runs):
            raise ValueError(
                f"replay=True but run {run_id!r} is not committed in the store"
            )

    def compact(self, spark) -> None:
        """Fold every committed run into ONE compacted run — the
        small-files defense for long-lived stores (each incremental batch
        adds a run dir; a year of hourly batches is ~10k directories and
        their file listings start to dominate load()).

        Crash-safe by the same write-then-commit discipline as append():
        the compacted parquet lands under a DETERMINISTIC id derived from
        the run list (a crashed compact retries into the same directory),
        the index swap is one atomic rename, and run dirs no longer in
        the index are reaped only after the swap (a crash in between
        leaves unreferenced dirs that the next compact sweeps)."""
        import hashlib
        import os
        import shutil

        runs = self.committed_runs()
        if len(runs) > 1:
            cid = "compact-" + hashlib.md5("\n".join(runs).encode()).hexdigest()[:12]
            part = self._read_index().get("partition_by")
            w = self.load(spark).write.mode("overwrite")
            if part:
                w = w.partitionBy(*part)
            w.parquet(self._run_path(cid))
            # fold the per-run file provenance into the compacted run so
            # committed_files() survives compaction
            idx = {"runs": [cid], "files": {cid: sorted(self.committed_files())}}
            if part:
                idx["partition_by"] = part
            self._write_index(idx)
        # sweep anything the index no longer references
        live = set(self.committed_runs())
        runs_dir = os.path.join(self.root, "runs")
        if os.path.isdir(runs_dir):
            for d in os.listdir(runs_dir):
                if d not in live:
                    shutil.rmtree(os.path.join(runs_dir, d), ignore_errors=True)


def incremental_near_dup_pairs(
    store: SignatureStore,
    new_docs: DataFrame,
    corpus: DataFrame,
    run_id: str | None,
    threshold: float = 0.5,
    replay: bool = False,
    input_files: list[str] | None = None,
) -> DataFrame:
    """Verified near-dup pairs INVOLVING the new batch: new-vs-new plus
    new-vs-already-ingested. The new signatures are appended to the store
    first, so the store commit precedes the candidate join.

    Guarantee: unioning each run's pairs over a sequence of incremental
    runs yields EXACTLY the full-corpus pair set (every pair {x, y} is
    emitted by the run that ingests its later member), so incremental
    ingestion and a one-shot whole-corpus run produce the same surviving
    set under dedup_apply — property-tested and under the DuckDB gate.
    Buckets are never capped here: a cap evaluated per run on the partial
    (old ∪ new) banded set would break that equality.

    Scale shape per run (N = corpus so far, B = new batch, B << N):
    - signatures computed for B only, once, inside the store append (the
      store holds the rest); the batch side reads the appended run back;
    - the candidate join is band(new) ⋈ band(store): the store — which now
      includes the batch — is scanned and banded once, and the banded
      batch (B x bands rows) is the side the planner picks to broadcast
      when it fits `autoBroadcastJoinThreshold`: both sides are plain
      scans with real file statistics, and the store side holds the batch,
      so it is never the smaller one. A batch over the threshold (a first
      tick over a large table) gets a shuffle join;
    - Jaccard verification (`ngram_jaccard(candidates=)`) checkpoints the
      candidate list, re-reads texts ONLY for candidate-touched docs
      (semi-join prune on the corpus) as one distinct 3-gram array each,
      and intersects the two arrays of each pair, O(|candidates| ·
      3-grams/doc); the lazy pairs then run in the caller's write.

    Crash safety: a crash after the append leaves the batch's files in
    `store.committed_files()`, so the retry takes `replay=True` — nothing
    is appended, and the recomputed batch signatures feed only the build
    side; the pair set is identical (signatures are deterministic).
    run_id=None with replay means "the caller established from
    committed_files() that every new_docs source file is already
    ingested" (the per-file replay key, ADVICE r4).

    `input_files` becomes the appended run's provenance entry
    (`SignatureStore.append`): the dedup agent passes the batch's source
    files; in-memory batches with no source files leave it empty.

    Docs are (doc_id, text) rows, and signatures and bands are the
    one-shot defaults of `minhash_signatures` and `band_signatures` (16
    hashes, 4 bands, k=3; `ngram_jaccard` always verifies on 3-grams): a
    persistent store mixing two parameterisations would silently break
    union-of-runs == one-shot.
    """
    spark = new_docs.sparkSession
    sigs = minhash_signatures(new_docs)
    if replay:
        store.require_committed(run_id)
        new_sigs = sigs
    else:
        store.append(sigs, run_id, input_files=input_files)
        new_sigs = spark.read.schema(sigs.schema).parquet(store._run_path(run_id))
    l = band_signatures(new_sigs).alias("l")
    r = band_signatures(store.load(spark, sigs.schema)).alias("r")
    pairs = (
        l.join(r, ["band", "key"])
        .filter(F.col("l.doc_id") != F.col("r.doc_id"))
        .select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("a"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("b"),
        )
        .distinct()
    )
    return ngram_jaccard(corpus, threshold=threshold, candidates=pairs)
