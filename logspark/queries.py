"""Driver-contract queries: one per implemented operator (SURVEY.md §2 +
training-data extensions), each with a DuckDB oracle (see __spark_entry__).

Every Spark callable takes (spark, sf_dir) and returns a DataFrame whose
column names/types match its oracle SQL exactly (the driver hash-compares
values after sorting by column name).

Reproducibility rules used throughout:
- double sums are order-dependent → cast to DECIMAL(18,2) BEFORE summing
- row-local float folds (dot products) use the same left-fold order in both
  engines → identical doubles → round(…, 6) is stable
- the only cross-engine hash primitive is the portable md5-based 60-bit int
  (Spark `conv(substr(md5 …))` ↔ DuckDB `cast('0x' || substr(md5 …))`)
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logspark.operators import dedup, multimodal, similarity, textops
from logspark.operators.aggregates import sink_counts
from logspark.operators.enrich import enrich
from logspark.operators.filters import apply_filter_chain, ensure_tags
from logspark.operators.router import route
from logspark.functions.predicates import compile_predicate

# ---------------------------------------------------------------------------
# worker shipping: make the logspark package importable on executor Python
# workers even when the driver process was launched outside /root/repo
# (sandbox equivalent of `spark-submit --py-files logspark.zip`)
# ---------------------------------------------------------------------------

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_workers(spark: SparkSession) -> None:
    if getattr(spark, "_logspark_shipped", False):
        return
    zip_path = "/tmp/logspark_pkg.zip"
    pkg_dir = os.path.join(_REPO_DIR, "logspark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, _REPO_DIR))
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this JVM
    spark._logspark_shipped = True


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# The flagship: events mapped to the transcripts shape → full pipeline
# (grok parse → tag → route → per-sink (conv_id, hour) counts)
# ---------------------------------------------------------------------------

GROK_K = r'\{"k": %{INT:k:int}\}'


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic events→transcripts mapping (same expressions as the
    oracle SQL): rows with value >= 400 get a 'note ' prefix so the anchored
    grok has a real failure path."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type").isin("signup", "purchase"), "assistant")
        .otherwise("tool")
        .alias("role"),
        F.when(F.col("value") >= 400, F.concat(F.lit("note "), F.col("props")))
        .otherwise(F.col("props"))
        .alias("text"),
        F.col("event_type").alias("tool"),
        F.col("ts"),
    )


FLAGSHIP_FILTERS = [
    {"type": "grok", "source": "text", "match": [GROK_K], "add_tag": ["parsed"]},
]
FLAGSHIP_SINKS = [
    {"name": "parsed", "when": {"tags_include": ["parsed"]}},
    {"name": "high_k", "when": {"tags_include": ["parsed"], "expr": "k >= 50"}},
    {"name": "raw", "when": {"tags_include": ["_grokparsefailure"]}},
]


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers(spark)
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_filter_chain(t, FLAGSHIP_FILTERS)
    routed = route(parsed, FLAGSHIP_SINKS)
    return sink_counts(routed, bucket="hour")


def q_pipeline_sink_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened two-phase (salted) variant of the per-sink counts —
    value-identical to q_pipeline_sink_counts (same DuckDB oracle), shown
    separately so the salted path is under the correctness gate too."""
    from logspark.operators.skew import salted_sink_counts

    ensure_workers(spark)
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_filter_chain(t, FLAGSHIP_FILTERS)
    routed = route(parsed, FLAGSHIP_SINKS)
    return salted_sink_counts(routed, bucket="hour", n_salts=8)


def q_pipeline_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row equality surface: (sink, conv_id, turn_idx, text)."""
    ensure_workers(spark)
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_filter_chain(t, FLAGSHIP_FILTERS)
    routed = route(parsed, FLAGSHIP_SINKS)
    return routed.select("sink", "conv_id", "turn_idx", "text")


# ---------------------------------------------------------------------------
# filter-chain operators (SURVEY.md §2.2)
# ---------------------------------------------------------------------------


def q_grok_typed_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers(spark)
    ev = _t(spark, sf_dir, "events")
    out = apply_filter_chain(
        ev, [{"type": "grok", "source": "props", "match": [GROK_K]}]
    )
    return out.select("event_id", "k")


def q_grok_failure_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers(spark)
    docs = _t(spark, sf_dir, "documents")
    out = apply_filter_chain(
        docs,
        [{"type": "grok", "source": "text", "match": [r"key %{GREEDYDATA:rest}"]}],
    )
    return out.select(
        "doc_id",
        F.array_contains("tags", "_grokparsefailure").alias("grok_failed"),
        "rest",
    )


def q_patch_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    out = apply_filter_chain(
        ev,
        [{"type": "patch", "fields": {"route_key": "%{event_type}/%{user_id}", "day": "%{+yyyy-MM-dd}"}}],
    )
    return out.select("event_id", "route_key", "day")


def q_patch_regex_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = apply_filter_chain(
        docs,
        [{"type": "patch", "replace": [{"field": "text", "pattern": r"\ba\b", "replacement": "@"}]}],
    )
    return out.select("doc_id", F.col("text").alias("redacted"))


def q_json_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = apply_filter_chain(
        ev, [{"type": "json", "source": "props", "schema": "k bigint", "tag_on_failure": False}]
    )
    return out.select("event_id", F.col("k").alias("k_json"))


def q_predicate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    pred = compile_predicate({"field_in": {"event_type": ["click", "view"]}, "expr": "value > 50"})
    return ev.filter(pred).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def q_mutate_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    out = apply_filter_chain(
        ev,
        [
            {"type": "mutate", "add_tag": ["seen", "v1"], "remove_tag": ["v1"]},
            {"type": "drop", "when": {"expr": "value >= 250"}},
        ],
    )
    return out.select("event_id", F.array_join("tags", ",").alias("tags_str"))


# ---------------------------------------------------------------------------
# enrich / router / aggregates (SURVEY.md §2.3, §2.8, §2.4)
# ---------------------------------------------------------------------------


def q_enrich_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    out = enrich(enrich(cust, nation, "c_nationkey"), region, "n_regionkey")
    return out.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
    )


EVENT_SINKS = [
    {"name": "clicks", "when": {"field_in": {"event_type": ["click", "view"]}}},
    {"name": "conversions", "when": {"field_in": {"event_type": ["signup", "purchase"]}}},
    {"name": "errors_sink", "when": {"field_equals": {"event_type": "error"}}},
    {"name": "hot", "when": {"expr": "value >= 400"}},  # overlaps the others
]


def q_router_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    return route(ev, EVENT_SINKS).select("sink", "event_id")


def q_router_index_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 elastic-sink semantics: per-row index name from the sink's
    `%{+date}` template; non-elastic sinks carry null."""
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    sinks = [
        {
            "name": "es_events",
            "when": {"field_in": {"event_type": ["click", "view"]}},
            "index": "logs-%{+yyyy.MM.dd}",
        },
        {"name": "archive", "when": {"expr": "value >= 400"}},
    ]
    return route(ev, sinks).select("sink", "event_id", "index")


def q_sink_counts_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    routed = route(ev, EVENT_SINKS)
    return routed.groupBy(
        "sink", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_window_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"))
        .orderBy(F.col("total").desc(), F.col("user_id"))
        .limit(10)
    )


def q_turn_sequence_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .groupBy("event_type", "prev_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_conversation_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows over conversations (30-min idle gap) —
    lag + running-sum in one conv_id shuffle."""
    from logspark.operators.aggregates import sessionize

    t = transcripts_from_events(spark, sf_dir)
    return sessionize(t, gap_minutes=30)


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users"))


# ---------------------------------------------------------------------------
# training-data ops: text analysis / dedup / similarity
# ---------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textops.with_token_stats(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "avg_token_len"
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textops.with_quality(docs).select("doc_id", "stopword_ratio", "punct_ratio", "quality_ok")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textops.with_lang_guess(docs).select("doc_id", "lang_guess")


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation surface: confusion counts of the marker-word lang-ID
    against the table's ground-truth lang column — makes the heuristic's
    quality a measured, gated number instead of a claim."""
    docs = _t(spark, sf_dir, "documents")
    return (
        textops.with_lang_guess(docs)
        .groupBy(F.col("lang").alias("lang_true"), "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textops.with_fingerprint(docs).select("doc_id", "fingerprint")


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-table-driven BPE count (r4: real merges, not just the
    pre-tokenizer split — TOY_BPE_MERGES applied per alphabetic word).
    Counted by the Arrow-batched classic encoder, whose kernel calls
    bpe_encode by module reference, so workers need the package
    (ensure_workers)."""
    ensure_workers(spark)
    docs = _t(spark, sf_dir, "documents")
    return textops.with_bpe_token_count(docs).select(
        "doc_id", "n_pretokens", "n_tokens_bpe"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows, 8-token overlap —
    narrow split→slice→posexplode fan-out, no Python, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return textops.chunk_documents(docs, chunk_tokens=64, overlap=8)


MIXTURE_BUDGETS = {"src0": 800, "src1": 600, "src2": 400}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted training mix: per-source running token sum, docs
    taken in id order until each source's budget fills."""
    docs = _t(spark, sf_dir, "documents")
    return textops.mixture_sample(docs, MIXTURE_BUDGETS)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction under the gate. The synthetic corpus carries no PII,
    so representative PII is PLANTED deterministically (email/IP/phone
    derived from doc_id, identical expressions in the oracle) — the hash
    compares the scrubber's actual rewrites, not an identity pass."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1 555 01"), (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit(" done"),
        ),
    )
    return textops.with_pii_scrubbed(planted).select("doc_id", "text_scrubbed")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, n_hashes=16)


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both LSH banding forms in ONE gated result (the driver's sweep caps
    at 50 entries, so the uncapped/capped pair share an entry, labeled by
    the `capped` column): capped=false is plain banding; capped=true is
    the 100 TB form — degenerate buckets (> max_bucket members) dropped
    before the self-join, bounding pair fan-out."""
    docs = _t(spark, sf_dir, "documents")
    # materialize signatures once: the union's two branches would each
    # re-run the Arrow MinHash kernel over the corpus otherwise
    sigs = dedup.minhash_signatures(docs, n_hashes=16).localCheckpoint(eager=True)
    un = dedup.lsh_candidates(sigs, n_hashes=16, bands=4).withColumn(
        "capped", F.lit(False)
    )
    cap = dedup.lsh_candidates(sigs, n_hashes=16, bands=4, max_bucket=20).withColumn(
        "capped", F.lit(True)
    )
    return un.unionByName(cap)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut sequence packing at L=128 over the documents
    stream (r4; replaced the all-pairs `ngram_jaccard` entry in the
    capped 50-entry sweep — that form was small-corpus-only by its own
    docstring, and the scale path `ngram_jaccard_verified` remains
    gated). Hash-checks every (seq, doc) overlap cell."""
    docs = _t(spark, sf_dir, "documents")
    return textops.pack_sequences(docs, seq_tokens=128)


def q_conversation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts → SFT (context, target) rows. Context = last 3 prior
    turns."""
    from logspark.operators.aggregates import conversation_examples

    t = transcripts_from_events(spark, sf_dir)
    return conversation_examples(t, target_role="assistant", max_context_turns=3)


def q_ngram_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed scale path: MinHash → LSH banding (capped buckets) →
    exact Jaccard verify on candidates only. |verify work| = O(near-dups)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_hashes=16)
    cand = dedup.lsh_candidates(sigs, n_hashes=16, bands=4, max_bucket=20)
    return dedup.ngram_jaccard(docs, threshold=0.5, candidates=cand)


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical near-dup pair set: MinHash → capped LSH → exact
    Jaccard ≥ 0.5 on candidates (same lineage as q_ngram_jaccard_verified)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, n_hashes=16)
    cand = dedup.lsh_candidates(sigs, n_hashes=16, bands=4, max_bucket=20)
    return dedup.ngram_jaccard(docs, threshold=0.5, candidates=cand)


def q_incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup under the gate: ingest the corpus in TWO
    batches (even doc_ids, then odd) through a persistent SignatureStore —
    each run computes signatures for its own batch only and LSH-joins new
    vs (store ∪ new). The unioned per-run pair sets must hash-equal the
    one-shot whole-corpus pair set (the oracle), proving incremental
    ingestion loses and invents nothing.

    The store lives in the driver's SparkFiles directory, which Spark
    deletes when the context stops or the JVM exits: the lazy pairs read
    its runs for as long as the session can run them, and no call leaves a
    store behind."""
    import tempfile

    from pyspark import SparkFiles

    ensure_workers(spark)
    docs = _t(spark, sf_dir, "documents")
    store = dedup.SignatureStore(tempfile.mkdtemp(prefix="sigstore_", dir=SparkFiles.getRootDirectory()))
    batch_a = docs.filter(F.col("doc_id") % 2 == 0)
    batch_b = docs.filter(F.col("doc_id") % 2 == 1)
    pa = dedup.incremental_near_dup_pairs(store, batch_a, docs, run_id="inc-a", threshold=0.5)
    pb = dedup.incremental_near_dup_pairs(store, batch_b, docs, run_id="inc-b", threshold=0.5)
    return pa.unionByName(pb)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → decisions, step 1: connected components over the verified
    near-dup pairs; cluster_id = min doc_id of the component (the keeper)."""
    ensure_workers(spark)
    return dedup.dedup_clusters(_verified_pairs(spark, sf_dir))


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → decisions, step 2: the surviving corpus — each cluster keeps
    its min-id member, unclustered docs pass through."""
    ensure_workers(spark)
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_apply(docs, _verified_pairs(spark, sf_dir)).select("doc_id")


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data corpus construction a real user runs:
    quality gate (≥5 tokens, stopword ratio ≤ 0.6) → language gate
    (lang_guess == 'en') → MinHash/LSH/Jaccard near-dup clustering →
    per-cluster min-id survivor. One composed DataFrame plan — the
    filters are narrow and run BEFORE signatures, so the expensive dedup
    stages see only the corpus that can survive."""
    ensure_workers(spark)
    docs = _t(spark, sf_dir, "documents")
    f = textops.with_lang_guess(textops.with_quality(docs))
    filtered = f.filter(F.col("quality_ok") & (F.col("lang_guess") == "en")).select(
        "doc_id", "text"
    )
    # materialize the gated corpus once (r6): it feeds the signature pass,
    # the verify stage's semi-join scans, and the final keep-list
    # anti-join — each consumer otherwise re-runs the tokenize-split
    # quality/lang expressions over the whole corpus. A real pipeline
    # materializes between stages anyway (the NOTE in textops.py).
    filtered = filtered.localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(filtered, n_hashes=16)
    cand = dedup.lsh_candidates(sigs, n_hashes=16, bands=4, max_bucket=20)
    pairs = dedup.ngram_jaccard(filtered, threshold=0.5, candidates=cand)
    return dedup.dedup_apply(filtered, pairs).select("doc_id")


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing: guaranteed-overlap document fingerprints at
    ~2/(w+1) density — the rolling-hash fingerprinting family."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, k=5, w=4)


def q_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step: pairs sharing ≥2 winnowing fingerprints (with the
    degenerate-fingerprint cap) — the fingerprint family's pairs stage."""
    docs = _t(spark, sf_dir, "documents")
    fps = dedup.winnow_fingerprints(docs, k=5, w=4)
    return dedup.winnow_candidates(fps, min_shared=2, max_bucket=50)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return textops.with_simhash(docs).select("doc_id", "simhash")


def q_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidates → exact Hamming verify at the production
    default (≤ 3 of 60 bits): the family's composed scale path, like
    ngram_jaccard_verified for MinHash. 13-25 real pairs at test SFs."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_verified(
        textops.with_simhash(docs), n_bands=4, max_hamming=3, max_bucket=100
    )


def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, query_id=0, k=10)


def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path: nearest-centroid cells + nprobe probing —
    each vector lives in exactly one cell (bucketable storage layout)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_id=0, n_anchors=6, nprobe=2, k=10)


def q_embed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-dedup path: `ivf_near_dups` over multi-probe IVF
    cells (nprobe=2, head-seeded centroids).

    threshold=0.35, not a production 0.9+: the synthetic embeddings are
    near-isotropic (max within-bucket cosine ≈ 0.47 at sf0.01), so a high
    threshold made this oracle vacuously green at 0 rows (VERDICT r2 #1);
    0.35 yields a real, hash-checked pair set at every test SF (108 pairs
    at sf0.01). n_cells=32 keeps the within-cell quadratic scoring cheap
    (6 cells measured 19.8 s at sf0.1 vs 3.7 s at 32 — cell size is the
    cost driver). No max_bucket: head-seeded cells are balanced on
    isotropic data; production uses train_ivf_centroids at larger k,
    where capping is meaningful."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_near_dups(emb, threshold=0.35, n_cells=32)


ANN_RECALL_FLOOR = 0.8


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation surface: recall@10 of the IVF ANN path (n=6, nprobe=2 —
    the configuration `ivf_near_dups`-style workflows run) against the
    exact cosine top-10 — the number a user tunes nprobe/cells against.
    One row, fully declarative (no driver-side compare); meets_floor
    gates it against ANN_RECALL_FLOOR under the hash-checked oracle — a
    config regression that drops recall below the floor flips a gated
    boolean, not just a number someone has to eyeball."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, query_id=0, k=10).select("vec_id")
    approx = similarity.ivf_topk(emb, query_id=0, n_anchors=6, nprobe=2, k=10)
    recall = F.round(F.count(F.lit(1)) / 10.0, 6)
    return (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(
            F.lit("ivf").alias("method"),
            recall.alias("recall_at_10"),
            F.lit(True).alias("is_default"),
            (recall >= ANN_RECALL_FLOOR).alias("meets_floor"),
        )
    )


def q_embed_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution is family-agnostic: the same connected-components
    → min-id-survivor machinery applied to EMBEDDING near-dup pairs —
    the surviving vector ids after cosine-near-dup collapse. Pairs come
    from the r4 default path (multi-probe IVF, see q_embed_near_dups)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.ivf_near_dups(emb, threshold=0.35, n_cells=32)
    return dedup.dedup_apply(emb, pairs, id_col="vec_id").select("vec_id")


def q_sink_counts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 cube/rollup surface: per-(sink, event_type) counts with ROLLUP
    subtotals and grand total — one pass, Catalyst expands the grouping
    sets; DuckDB's ROLLUP is semantically identical (nulls as subtotal
    markers)."""
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    routed = route(ev, EVENT_SINKS)
    return routed.rollup("sink", "event_type").agg(F.count(F.lit(1)).alias("n"))


def q_sink_payload_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 redis-sink payload form: LPUSH payload = compact JSON of the
    routed event (to_json over a struct — byte-identical across engines
    for integer/string fields)."""
    ev = ensure_tags(_t(spark, sf_dir, "events"))
    routed = route(ev, EVENT_SINKS)
    return routed.select(
        "sink",
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                F.floor("value").cast("long").alias("value_floor"),
            )
        ).alias("payload"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode plumbing over mapInPandas, under the FULL oracle gate:
    media bytes = UTF-8 text of the documents table, features from exact
    integer moments — DuckDB reproduces every double bit-for-bit."""
    ensure_workers(spark)
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.media_from_documents(docs)
    return multimodal.extract_features(media)


QUERIES = {
    "pipeline_sink_counts": q_pipeline_sink_counts,
    "pipeline_sink_counts_salted": q_pipeline_sink_counts_salted,
    "pipeline_routed_rows": q_pipeline_routed_rows,
    "grok_typed_capture": q_grok_typed_capture,
    "grok_failure_tag": q_grok_failure_tag,
    "patch_template": q_patch_template,
    "patch_regex_replace": q_patch_regex_replace,
    "json_codec": q_json_codec,
    "predicate_filter": q_predicate_filter,
    "mutate_tags": q_mutate_tags,
    "enrich_geo": q_enrich_geo,
    "router_fanout": q_router_fanout,
    "router_index_template": q_router_index_template,
    "sink_counts_hourly": q_sink_counts_hourly,
    "window_bucket_agg": q_window_bucket_agg,
    "topk_users": q_topk_users,
    "turn_sequence_lag": q_turn_sequence_lag,
    "distinct_users": q_distinct_users,
    "conversation_sessions": q_conversation_sessions,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "lang_id_confusion": q_lang_id_confusion,
    "doc_fingerprint": q_doc_fingerprint,
    "token_count_bpe": q_token_count_bpe,
    "pii_scrub": q_pii_scrub,
    "chunk_documents": q_chunk_documents,
    "mixture_sample": q_mixture_sample,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidates": q_lsh_candidates,
    "pack_sequences": q_pack_sequences,
    "ngram_jaccard_verified": q_ngram_jaccard_verified,
    "dedup_clusters": q_dedup_clusters,
    "dedup_apply": q_dedup_apply,
    "incremental_dedup_pairs": q_incremental_dedup_pairs,
    "training_corpus": q_training_corpus,
    "simhash": q_simhash,
    "simhash_verified": q_simhash_verified,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_candidates": q_winnow_candidates,
    "embed_cosine_topk": q_embed_cosine_topk,
    "conversation_examples": q_conversation_examples,
    "embed_ivf_topk": q_embed_ivf_topk,
    "embed_near_dups": q_embed_near_dups,
    "embed_dedup_apply": q_embed_dedup_apply,
    "ann_recall": q_ann_recall,
    "sink_counts_rollup": q_sink_counts_rollup,
    "sink_payload_json": q_sink_payload_json,
    "multimodal_features": q_multimodal_features,
}
