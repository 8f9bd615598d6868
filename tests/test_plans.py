"""Physical-plan regression tests — the scale properties that make the
100 TB story true, asserted against `.explain` output so a future change
that silently degrades the plan fails CI:

1. ONE ArrowEvalPython node per grok filter (InferFiltersFromGenerate once
   cloned the UDF below the router's explode — 2x Python cost, see
   logspark/session.py ENGINE_CONF and BENCH/NOTES.md fix 2).
2. Enrich joins are BroadcastHashJoin — the fact side never shuffles.
3. Filter pushdown reaches the parquet scan (PushedFilters) and column
   pruning reaches ReadSchema for a projecting query.
4. The pre-sink pipeline plan contains no Exchange (single narrow stage);
   the counts aggregate has partial aggregation below its single Exchange.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from logspark.config import canonical_config
from logspark.operators.filters import apply_filter_chain
from logspark.operators.router import route
from logspark.operators.aggregates import sink_counts
from logspark.operators.enrich import apply_enrich_chain
from logspark.queries import FLAGSHIP_FILTERS, FLAGSHIP_SINKS


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# Optional capture groups are not JVM-expressible: grok takes the pandas UDF.
OPTIONAL_CAPTURE_GROK = {
    "type": "grok",
    "source": "text",
    "match": [r"c%{INT:a:int}(?: %{INT:b:int})?"],
    "add_tag": ["parsed"],
}


def test_single_python_eval_through_router(transcripts):
    """The explode router must not duplicate the grok pandas UDF (the
    fallback path for non-JVM-expressible patterns), even with a sink
    predicate over a capture the UDF produces."""
    parsed = apply_filter_chain(transcripts, [OPTIONAL_CAPTURE_GROK])
    sinks = [
        {"name": "parsed", "when": {"tags_include": ["parsed"]}},
        {"name": "high_a", "when": {"tags_include": ["parsed"], "expr": "a >= 50"}},
        {"name": "raw", "when": {"tags_include": ["_grokparsefailure"]}},
    ]
    routed = route(parsed, sinks)
    plan = _plan(routed.select("sink", "conv_id"))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_native_grok_has_zero_python(transcripts):
    """JVM-expressible grok configs (the common case: every canonical and
    flagship pattern) must compile to pure Column expressions — no Arrow
    boundary, no Python workers, anywhere in the routed plan."""
    parsed = apply_filter_chain(transcripts, FLAGSHIP_FILTERS)
    routed = route(parsed, FLAGSHIP_SINKS)
    plan = _plan(routed.select("sink", "conv_id"))
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_native_grok_whole_canonical_pipeline_python_free(transcripts, dims):
    """The full canonical pipeline (grok + json + patch + enrich + route)
    is JVM-only end-to-end."""
    cfg = canonical_config()
    parsed = apply_filter_chain(transcripts, cfg.filter)
    parsed = apply_enrich_chain(parsed, cfg.enrich, dims)
    routed = route(parsed, cfg.output)
    plan = _plan(routed)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_grok_falls_back_to_pandas_for_optional_captures(transcripts):
    """Optional capture groups are not JVM-expressible: grok falls back to
    the pandas UDF."""
    parsed = apply_filter_chain(transcripts, [OPTIONAL_CAPTURE_GROK])
    assert _plan(parsed).count("ArrowEvalPython") == 1


def test_grok_rejects_unknown_config_keys(transcripts):
    """Removed grok options fail at plan time instead of being ignored, so
    a hot-reloaded config that still sets one is refused loudly."""
    for key, value in {"engine": "native", "prefilter_rlike": r"^\["}.items():
        with pytest.raises(ValueError, match=f"unknown grok config key.*'{key}'"):
            apply_filter_chain(transcripts, [{**FLAGSHIP_FILTERS[0], key: value}])


def test_enrich_is_broadcast_hash_join(transcripts, dims):
    cfg = [{"dim": "tool_catalog", "key": "tool"}, {"dim": "role_map", "key": "role"}]
    out = apply_enrich_chain(transcripts, cfg, dims)
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_no_shuffle_before_sink_write(transcripts, dims):
    """scan → grok → patch/json → enrich → route is ONE narrow stage."""
    cfg = canonical_config()
    parsed = apply_filter_chain(transcripts, cfg.filter)
    parsed = apply_enrich_chain(parsed, cfg.enrich, dims)
    routed = route(parsed, cfg.output)
    plan = _plan(routed)
    # BroadcastExchange (dim shipping) is allowed; shuffle exchanges are not
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange RoundRobinPartitioning" not in plan, plan


def test_counts_aggregate_is_partial_final(transcripts, dims):
    """The only shuffle: partial aggregation below one Exchange."""
    cfg = canonical_config()
    parsed = apply_filter_chain(transcripts, cfg.filter)
    routed = route(parsed, cfg.output)
    plan = _plan(sink_counts(routed))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial (map-side) aggregate below the exchange
    assert re.search(r"HashAggregate.*partial_count", plan) or "partial" in plan, plan


def test_bucketed_layout_removes_shuffles(spark, transcripts):
    """north_rule 'bucket by conv_id': over a conv_id-bucketed table, both
    the per-conversation aggregate and a self-join on conv_id plan WITHOUT
    a shuffle Exchange — the storage layout pays the shuffle once at
    ingest. (Iceberg: bucket(n, conv_id) transform, same effect.)"""
    import shutil

    from logspark.sources.tableio import write_bucketed

    spark.sql("DROP TABLE IF EXISTS t_bucketed")
    # a previous session's warehouse dir survives the in-memory catalog;
    # saveAsTable refuses to create over a stale location
    shutil.rmtree("spark-warehouse/t_bucketed", ignore_errors=True)
    write_bucketed(transcripts, "t_bucketed", buckets=8)
    t = spark.table("t_bucketed")

    agg = t.groupBy("conv_id").count()
    plan = _plan(agg)
    assert "Exchange hashpartitioning" not in plan, plan

    joined = t.alias("a").join(spark.table("t_bucketed").alias("b"), "conv_id")
    jplan = _plan(joined.select("conv_id"))
    assert "Exchange hashpartitioning" not in jplan, jplan


def test_pushdown_and_pruning_reach_scan(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("m"), F.col("id")).alias("msg"),
        F.lit("pad").alias("unused"),
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("k") == 3).select("id", "msg")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "k" in plan.split("PushedFilters")[1][:80], plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "unused" not in read_schema, read_schema


def test_ivf_assignment_is_narrow_kernel_not_literal_chain(spark):
    """Scale-true IVF: cell assignment is ONE narrow Arrow kernel with
    the centroid matrix in its closure (the broadcast shape) — not the r2
    literal when-chain whose expression tree grew O(n_centroids x dim),
    and (r6) not the r5 broadcast-join + groupBy form whose interpreted
    per-(row, centroid) fold plus corpus-wide exchange dominated the
    embedding bench. Asserted at n_anchors=64: one MapInPandas node, ZERO
    exchanges, no CASE chain, and a plan size that cannot be hiding
    inlined centroid literals."""
    import numpy as np

    from logspark.operators import similarity

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    cents = similarity.head_centroids(emb, 64)
    assigned = similarity.ivf_assign(emb, cents)
    plan = _plan(assigned)
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, f"assignment must not shuffle:\n{plan}"
    assert "CASE WHEN" not in plan, "literal when-chain resurfaced"
    # 64 centroids x 16 dims inlined as literals would dwarf this bound
    assert len(plan) < 20_000, f"plan unexpectedly large: {len(plan)} chars"
    # and it actually executes: every vector lands in exactly one cell
    n = assigned.count()
    assert n == 300
    assert assigned.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0

    # end-to-end at 64 centroids without plan blow-up
    got = similarity.ivf_topk(emb, query_id=0, n_anchors=64, nprobe=8, k=5)
    assert got.count() == 5


def test_ivf_multi_probe_plan_shape(spark):
    """ivf_assign_multi / ivf_near_dups plan invariants (r6): assignment
    is one narrow MapInPandas kernel (centroid matrix in the closure —
    the broadcast shape; corpus never shuffles for scoring, no exchange
    at all), no literal when-chain; the near-dup pipeline is assignment →
    one exchange on cell → per-cell FlatMapGroupsInPandas scoring — never
    a cartesian, and no join at all anymore."""
    import numpy as np

    from logspark.operators import similarity

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = similarity.head_centroids(emb, 64)

    m = similarity.ivf_assign_multi(emb, cents, nprobe=2)
    plan = _plan(m)
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, f"assignment must not shuffle:\n{plan}"
    assert "CASE WHEN" not in plan

    nd = similarity.ivf_near_dups(emb, threshold=0.2, n_cells=64, nprobe=2)
    plan = _plan(nd)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan  # ONE assignment pass
    assert plan.count("FlatMapGroupsInPandas") == 1, plan  # per-cell scoring
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_vectorized_kernel_matches_declarative(spark):
    """The zero-shuffle BLAS assignment kernel (k-means training) agrees
    with the fold-exact `ivf_assign` argmax on every row."""
    import numpy as np

    from logspark.operators import similarity

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(12).tolist()) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = similarity.head_centroids(emb, 16)

    a = {r["vec_id"]: r["cell"] for r in similarity.ivf_assign(emb, cents).collect()}
    b = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign_vectorized(emb, cents).collect()
    }
    assert a == b
    # and the vectorized plan is narrow: no Exchange anywhere
    vplan = _plan(similarity.ivf_assign_vectorized(emb, cents))
    assert "Exchange" not in vplan, vplan


def test_ivf_kmeans_training_improves_inertia(spark):
    """Deterministic Lloyd rounds: mean within-cluster cosine distance is
    non-increasing vs the head-centroid seed, and ivf_topk accepts the
    trained centroids through the same probe/assign plumbing."""
    import numpy as np

    from logspark.operators import similarity

    rng = np.random.default_rng(3)
    # three well-separated gaussian blobs -> k-means has something to learn
    blobs = []
    for c in range(3):
        center = rng.standard_normal(8) * 4
        for i in range(60):
            blobs.append((c * 60 + i, (center + rng.standard_normal(8) * 0.3).tolist()))
    emb = spark.createDataFrame(blobs, "vec_id bigint, embedding array<double>")

    def inertia(cents):
        from logspark.operators.similarity import _dot, _norm

        assigned = similarity.ivf_assign(emb, cents)
        j = assigned.join(cents, "cell")
        dv = F.col("embedding").cast("array<double>")
        cv = F.col("cvec")
        return (
            j.select((F.lit(1.0) - _dot(dv, cv) / (_norm(dv) * _norm(cv))).alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    seed = similarity.head_centroids(emb, 3)
    trained = similarity.train_ivf_centroids(emb, 3, n_iter=4)
    i0, i1 = inertia(seed), inertia(trained)
    assert i1 <= i0 + 1e-9, (i0, i1)
    # trained centroids should essentially recover the 3 blobs
    assert i1 < i0 * 0.5, (i0, i1)

    got = similarity.ivf_topk(emb, query_id=0, nprobe=1, k=5, centroids=trained)
    assert got.count() == 5


def test_dedup_apply_anti_join_broadcasts(spark):
    """dedup_apply must not shuffle the corpus to subtract the (small,
    id-only) drop list: the LeftAnti join is a BroadcastHashJoin with the
    corpus as the streamed side — without the explicit broadcast the
    statistics-blind static plan picks a full SortMergeJoin."""
    from logspark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = dedup.minhash_signatures(docs, n_hashes=16)
    cand = dedup.lsh_candidates(sigs, n_hashes=16, bands=4, max_bucket=20)
    pairs = dedup.ngram_jaccard(docs, threshold=0.5, candidates=cand)
    plan = _plan(dedup.dedup_apply(docs, pairs))
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("BroadcastHashJoin" in ln for ln in anti), anti
    assert not any("SortMergeJoin" in ln for ln in anti), anti


def test_candidate_self_joins_recompute_kernel_per_side(spark):
    """The candidate self-joins plan the signature kernel once per join
    side (two ArrowEvalPython nodes): an interleaved best-of-3 A/B at
    500k docs measured this recompute shape FASTER than checkpointing
    the banded rows once (lsh 4.04 vs 6.16 s, winnow 4.95 vs 10.16 s).
    The plan shape is pinned so a change to it is visible."""
    from logspark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    fps = dedup.winnow_fingerprints(docs, k=5, w=4)
    plan = _plan(dedup.winnow_candidates(fps, min_shared=2, max_bucket=50))
    assert plan.count("ArrowEvalPython") == 2, plan

    sigs = dedup.minhash_signatures(docs, n_hashes=16)
    plan = _plan(dedup.lsh_candidates(sigs, n_hashes=16, bands=4, max_bucket=20))
    assert plan.count("ArrowEvalPython") == 2, plan


def _subtrees(plan: str, node: str) -> list[tuple[str, list[str]]]:
    """(node line, [child subtree text, ...]) for every `node` operator in
    the AQE final plan, read from the tree string's indentation."""
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    lines = [ln for ln in final.splitlines() if ln.strip()]
    col = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]

    def subtree(i: int) -> list[str]:
        j = i + 1
        while j < len(lines) and col[j] > col[i]:
            j += 1
        return lines[i:j]

    out = []
    for i, ln in enumerate(lines):
        if ln.lstrip(" :+-*()0123456789").startswith(node):
            kids = [k for k in range(i + 1, i + len(subtree(i))) if col[k] == col[i] + 3]
            out.append((ln, ["\n".join(subtree(k)) for k in kids]))
    return out


def test_incremental_candidate_join_broadcasts_batch_streams_store(spark, tmp_path, monkeypatch):
    """The incremental candidate join builds its hash table on the banded
    BATCH (the appended run read back, broadcast) and streams ONE banded
    scan of the store, which already holds the batch: no Exchange sits
    between the store scan and the join, and the store is never
    broadcast."""
    from logspark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store = dedup.SignatureStore(str(tmp_path / "store"))
    dedup.incremental_near_dup_pairs(store, docs.filter(F.col("doc_id") % 2 == 0), docs, run_id="r-0")
    seen = {}
    real = dedup.ngram_jaccard

    def spy(*args, **kwargs):
        seen["candidates"] = kwargs["candidates"]
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "ngram_jaccard", spy)
    dedup.incremental_near_dup_pairs(store, docs.filter(F.col("doc_id") % 2 == 1), docs, run_id="r-1")
    plan = _plan(seen["candidates"])  # executed by the verify's checkpoint

    joins = _subtrees(plan, "BroadcastHashJoin")
    assert len(joins) == 1, plan
    line, (build, streamed) = joins[0]
    assert "BuildLeft" in line, line
    assert "BroadcastExchange" in build and "InMemoryFileIndex(1 paths)" in build, build
    assert build.count("FileScan") == 1, build  # the batch's run dir only
    assert streamed.count("FileScan") == 1 and "InMemoryFileIndex(2 paths)" in streamed, streamed
    assert "Exchange" not in streamed and "QueryStage" not in streamed, streamed
    assert plan.split("== Initial Plan ==")[0].count("FileScan") == 2, plan
