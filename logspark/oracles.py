"""DuckDB oracle SQL for every driver-contract query (see logspark.queries).

Each SQL string computes EXACTLY the same values as its Spark counterpart:
- same md5-derived 60-bit portable hash
- same left-fold order for float sums (`list_reduce`, not `list_sum`,
  wherever doubles are folded — DuckDB's list_sum order is unspecified)
- DECIMAL(18,2) sums for aggregated doubles (order-independent)
- regexp_replace always carries the 'g' flag (DuckDB is first-match by
  default; Spark is global)
"""

from __future__ import annotations

from logspark.operators.dedup import MERSENNE_P, _minhash_coeffs

H60 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"

# ---------------------------------------------------------------------------
# flagship pipeline (events → transcripts shape → grok → route → counts)
# ---------------------------------------------------------------------------

_PIPELINE_CTE = """
WITH t AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id AS INT) AS turn_idx,
         CASE WHEN value >= 400 THEN 'note ' || props ELSE props END AS text,
         ts
  FROM events
), p AS (
  SELECT *,
         regexp_matches(text, '^\\{{"k": [+-]?[0-9]+\\}}') AS matched,
         CASE WHEN regexp_matches(text, '^\\{{"k": [+-]?[0-9]+\\}}')
              THEN CAST(regexp_extract(text, '^\\{{"k": ([+-]?[0-9]+)\\}}', 1) AS BIGINT)
         END AS k
  FROM t
), routed AS (
  SELECT 'parsed' AS sink, conv_id, turn_idx, text, ts FROM p WHERE matched
  UNION ALL
  SELECT 'high_k', conv_id, turn_idx, text, ts FROM p WHERE matched AND k >= 50
  UNION ALL
  SELECT 'raw', conv_id, turn_idx, text, ts FROM p WHERE NOT matched
)
{select}
""".format

PIPELINE_SINK_COUNTS = _PIPELINE_CTE(
    select="SELECT sink, conv_id, date_trunc('hour', ts) AS bucket, COUNT(*) AS n "
    "FROM routed GROUP BY 1, 2, 3"
)

PIPELINE_ROUTED_ROWS = _PIPELINE_CTE(
    select="SELECT sink, conv_id, turn_idx, text FROM routed"
)

# ---------------------------------------------------------------------------
# filter-chain operators
# ---------------------------------------------------------------------------

GROK_TYPED_CAPTURE = """
SELECT event_id,
       CASE WHEN regexp_matches(props, '^\\{"k": [+-]?[0-9]+\\}')
            THEN CAST(regexp_extract(props, '^\\{"k": ([+-]?[0-9]+)\\}', 1) AS BIGINT)
       END AS k
FROM events
"""

GROK_FAILURE_TAG = """
SELECT doc_id,
       NOT regexp_matches(text, '^key ') AS grok_failed,
       CASE WHEN regexp_matches(text, '^key ')
            THEN regexp_extract(text, '^key (.*)', 1) END AS rest
FROM documents
"""

PATCH_TEMPLATE = """
SELECT event_id,
       event_type || '/' || CAST(user_id AS VARCHAR) AS route_key,
       strftime(ts, '%Y-%m-%d') AS day
FROM events
"""

PATCH_REGEX_REPLACE = r"""
SELECT doc_id, regexp_replace(text, '\ba\b', '@', 'g') AS redacted FROM documents
"""

JSON_CODEC = """
SELECT event_id,
       CAST(NULLIF(regexp_extract(props, '"k": ([+-]?[0-9]+)', 1), '') AS BIGINT) AS k_json
FROM events
"""

PREDICATE_FILTER = """
SELECT event_type, COUNT(*) AS n FROM events
WHERE event_type IN ('click', 'view') AND value > 50
GROUP BY 1
"""

MUTATE_TAGS = """
SELECT event_id, 'seen' AS tags_str FROM events WHERE value < 250
"""

# ---------------------------------------------------------------------------
# enrich / router / aggregates
# ---------------------------------------------------------------------------

ENRICH_GEO = """
SELECT r_name, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""

_EVENT_ROUTED = """
WITH routed AS (
  SELECT 'clicks' AS sink, event_id, ts FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT 'conversions', event_id, ts FROM events WHERE event_type IN ('signup', 'purchase')
  UNION ALL
  SELECT 'errors_sink', event_id, ts FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT 'hot', event_id, ts FROM events WHERE value >= 400
)
"""

ROUTER_FANOUT = _EVENT_ROUTED + "SELECT sink, event_id FROM routed"

# O4 redis-sink payload: to_json of a struct — Spark and DuckDB emit the
# identical compact {"k":v,...} byte sequence for integer/string fields
# (floats avoided: floor→BIGINT keeps the payload engine-exact)
SINK_PAYLOAD_JSON = """
WITH routed AS (
  SELECT 'clicks' AS sink, event_id, event_type, value FROM events
  WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT 'conversions', event_id, event_type, value FROM events
  WHERE event_type IN ('signup', 'purchase')
  UNION ALL
  SELECT 'errors_sink', event_id, event_type, value FROM events
  WHERE event_type = 'error'
  UNION ALL
  SELECT 'hot', event_id, event_type, value FROM events WHERE value >= 400
)
SELECT sink,
       to_json(struct_pack(
         event_id := event_id,
         event_type := event_type,
         value_floor := CAST(floor(value) AS BIGINT))) AS payload
FROM routed
"""

ROUTER_INDEX_TEMPLATE = """
WITH routed AS (
  SELECT 'es_events' AS sink, event_id,
         'logs-' || strftime(ts, '%Y.%m.%d') AS "index"
  FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT 'archive', event_id, NULL FROM events WHERE value >= 400
)
SELECT sink, event_id, "index" FROM routed
"""

SINK_COUNTS_HOURLY = (
    _EVENT_ROUTED
    + "SELECT sink, date_trunc('hour', ts) AS bucket, COUNT(*) AS n FROM routed GROUP BY 1, 2"
)

WINDOW_BUCKET_AGG = """
SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

TOPK_USERS = """
SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1 ORDER BY total DESC, user_id LIMIT 10
"""

TURN_SEQUENCE_LAG = """
SELECT event_type, prev_type, COUNT(*) AS n FROM (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
) GROUP BY 1, 2
"""

DISTINCT_USERS = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1
"""

CONVERSATION_SESSIONS = """
WITH t AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id AS INT) AS turn_idx, ts
  FROM events
), l AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                     (PARTITION BY conv_id ORDER BY ts, turn_idx) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM t
), s AS (
  SELECT conv_id, ts,
         SUM(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                       ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM l
)
SELECT conv_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_turns, MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

TOKEN_STATS = """
SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       round(CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
             / greatest(len(w), 1), 6) AS avg_token_len
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""

_STOP = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"

QUALITY_SCORES = f"""
SELECT doc_id,
       round(CAST(len(list_filter(w, t -> t IN {_STOP})) AS DOUBLE)
             / greatest(len(w), 1), 6) AS stopword_ratio,
       round(CAST(len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / greatest(len(text), 1), 6) AS punct_ratio,
       (len(w) >= 5 AND
        round(CAST(len(list_filter(w, t -> t IN {_STOP})) AS DOUBLE)
              / greatest(len(w), 1), 6) <= 0.6) AS quality_ok
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
"""

LANG_ID = """
SELECT doc_id,
       CASE WHEN fr > en AND fr > de AND fr > 0 THEN 'fr'
            WHEN de > en AND de > 0 THEN 'de'
            WHEN en > 0 THEN 'en'
            ELSE 'und' END AS lang_guess
FROM (
  SELECT doc_id,
         len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of'))) AS en,
         len(list_filter(w, t -> t IN ('der', 'die', 'das', 'und'))) AS de,
         len(list_filter(w, t -> t IN ('le', 'la', 'et', 'les'))) AS fr
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
"""

LANG_ID_CONFUSION = """
SELECT lang AS lang_true,
       CASE WHEN fr > en AND fr > de AND fr > 0 THEN 'fr'
            WHEN de > en AND de > 0 THEN 'de'
            WHEN en > 0 THEN 'en'
            ELSE 'und' END AS lang_guess,
       COUNT(*) AS n
FROM (
  SELECT lang,
         len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of'))) AS en,
         len(list_filter(w, t -> t IN ('der', 'die', 'das', 'und'))) AS de,
         len(list_filter(w, t -> t IN ('le', 'la', 'et', 'les'))) AS fr
  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
)
GROUP BY 1, 2
"""

DOC_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""

# same portable regex subset as textops.BPE_TOKEN_RE (Java regex == RE2
# here), then the SAME sentinel-encode + rank-ordered replace() chain the
# Spark side runs: replace() is left-to-right non-overlapping in both
# engines, so the merged symbol sequences are byte-identical.
def _bpe_word_count_sql(var: str) -> str:
    from logspark.operators.textops import TOY_BPE_MERGES

    sym = lambda s: "chr(2) || '" + s + "' || chr(3)"  # noqa: E731
    expr = f"regexp_replace({var}, '(.)', chr(2) || '\\1' || chr(3), 'g')"
    for x, y in TOY_BPE_MERGES:
        expr = f"replace({expr}, {sym(x)} || {sym(y)}, {sym(x + y)})"
    return f"(len(string_split({expr}, chr(2))) - 1)"


TOKEN_COUNT_BPE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pretokens,
       CAST(COALESCE(list_sum(list_transform(toks, t ->
           CASE WHEN regexp_matches(t, '^[A-Za-z]+$')
                THEN {_bpe_word_count_sql('t')}
                ELSE 1 END)), 0) AS BIGINT) AS n_tokens_bpe
FROM t
"""

# context-window chunking: 64-token windows, stride 56 (overlap 8);
# list_slice end index is inclusive in DuckDB (begin + 64 - 1)
CHUNK_DOCUMENTS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(floor((len(toks) - 1) / 56) AS INT))) AS chunk_idx
  FROM w
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * 56 + 1, chunk_idx * 56 + 64), ' ') AS chunk_text,
       CAST(len(list_slice(toks, chunk_idx * 56 + 1, chunk_idx * 56 + 64)) AS BIGINT) AS n_chunk_tokens
FROM g
"""

# token-budgeted mixture: per-source running sum in doc_id order, cut at
# each source's budget (sources without a budget contribute nothing)
MIXTURE_SAMPLE = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         -- CAST: DuckDB's windowed SUM(BIGINT) yields HUGEINT, which lands
         -- in pandas as float64 and breaks the driver's value hash against
         -- Spark's BIGINT (CORRECTNESS_r03 hash_match:false — values equal)
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 600
                     WHEN 'src2' THEN 400 END AS budget
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= budget
"""

# PII scrub over planted PII (email/IP/phone derived from doc_id —
# identical construction to the Spark query); replace order fixed, 'g'
PII_SCRUB = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 tel +1 555 01' || CAST(doc_id % 90 + 10 AS VARCHAR)
                  || ' done',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b', '<IP>', 'g'),
         '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS text_scrubbed
FROM documents
"""

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

DEDUP_EXACT = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keeper, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""

_SHINGLES_CTE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM w WHERE len(w) >= 3
  )
)
"""


def _minhash_select() -> str:
    h = H60.format(s="shingle")
    aggs = ",\n       ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(16))
    )
    return (
        _SHINGLES_CTE
        + f", h AS (SELECT doc_id, {h} % {MERSENNE_P} AS h FROM sh)\n"
        + f"SELECT doc_id, {aggs} FROM h GROUP BY doc_id"
    )


MINHASH_SIGNATURES = _minhash_select()


def _lsh_ctes(max_bucket: int | None = None) -> str:
    """CTE chain `sigs` → `bands` → `cand` (the minhash-LSH candidate pairs),
    for composition into several oracle queries. `max_bucket` mirrors
    dedup.cap_buckets: QUALIFY drops degenerate (band, key) buckets."""
    band_selects = []
    for band in range(4):
        key = " || '_' || ".join(
            f"CAST(mh_{band * 4 + j} AS VARCHAR)" for j in range(4)
        )
        band_selects.append(f"SELECT doc_id, {band} AS band, {key} AS key FROM sigs")
    bands = "\n  UNION ALL\n  ".join(band_selects)
    qualify = (
        f"\n  QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= {max_bucket}"
        if max_bucket is not None
        else ""
    )
    return (
        f"sigs AS (\n{MINHASH_SIGNATURES}\n), bands_raw AS (\n  {bands}\n),\n"
        f"bands AS (\n  SELECT * FROM bands_raw{qualify}\n),\n"
        "cand AS (\n"
        "  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b\n"
        "  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id\n"
        ")"
    )


def _lsh_select(max_bucket: int | None = None) -> str:
    return f"WITH {_lsh_ctes(max_bucket)}\nSELECT a, b FROM cand"


# one gated entry for both banding forms (driver sweep caps at 50 entries):
# capped=false = plain banding, capped=true = degenerate-bucket-capped
LSH_CANDIDATES = (
    f"SELECT a, b, FALSE AS capped FROM ({_lsh_select()})\n"
    "UNION ALL\n"
    f"SELECT a, b, TRUE AS capped FROM ({_lsh_select(max_bucket=20)})"
)

# the scale path: exact Jaccard verified ONLY on LSH candidate pairs —
# the quadratic shared-shingle pair space is never the driver of cost
NGRAM_JACCARD_VERIFIED = (
    _SHINGLES_CTE
    + ",\n"
    + _lsh_ctes(max_bucket=20)
    + """,
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS inter
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
v AS (SELECT i.* FROM inter i JOIN cand c ON i.a = c.a AND i.b = c.b)
SELECT a, b, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM v
JOIN sz sa ON sa.doc_id = a
JOIN sz sb ON sb.doc_id = b
WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.5
"""
)

# incremental dedup oracle: the WHOLE-CORPUS pair set at the same params
# as the incremental path (uncapped LSH candidates, threshold 0.5) — the
# union of per-batch incremental runs must equal exactly this
INCREMENTAL_DEDUP_PAIRS = (
    _SHINGLES_CTE
    + ",\n"
    + _lsh_ctes(max_bucket=None)
    + """,
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS inter
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
v AS (SELECT i.* FROM inter i JOIN cand c ON i.a = c.a AND i.b = c.b)
SELECT a, b, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM v
JOIN sz sa ON sa.doc_id = a
JOIN sz sb ON sb.doc_id = b
WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.5
"""
)

# verified near-dup pairs as a reusable CTE chain (ends in `vp(a, b)`) —
# same lineage as NGRAM_JACCARD_VERIFIED's result at threshold 0.5
_VERIFIED_PAIRS_CTES = (
    _SHINGLES_CTE
    + ",\n"
    + _lsh_ctes(max_bucket=20)
    + """,
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS inter
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
vp AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN cand c ON i.a = c.a AND i.b = c.b
  JOIN sz sa ON sa.doc_id = i.a
  JOIN sz sb ON sb.doc_id = i.b
  WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.5
)"""
)

# connected components over the verified pairs: recursive reachability →
# component id = MIN reachable doc_id (matches dedup.connected_components'
# min-label fixpoint exactly — both are "min node id in my component")
_CC_TAIL = """,
und AS (SELECT a AS s, b AS d FROM vp UNION SELECT b, a FROM vp),
reach(node, r) AS (
  SELECT s, s FROM und
  UNION
  SELECT u.s, reach.r FROM und u JOIN reach ON u.d = reach.node
),
cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
"""

_RECURSIVE_PAIRS = "WITH RECURSIVE " + _VERIFIED_PAIRS_CTES.lstrip().removeprefix("WITH ")

DEDUP_CLUSTERS = _RECURSIVE_PAIRS + _CC_TAIL + "SELECT node AS doc_id, cluster_id FROM cc"

DEDUP_APPLY = (
    _RECURSIVE_PAIRS
    + _CC_TAIL
    + """SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)"""
)

# winnowing (MOSS): min over each w=4 window of 5-gram hashes, complete
# windows only, distinct per doc — same window frame in both engines
WINNOW_FINGERPRINTS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         len(toks) - 4 AS m,
         unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
  FROM w
),
h AS (
  SELECT g.doc_id, g.i, g.m,
         {H60.format(s="array_to_string(list_slice(w.toks, g.i, g.i + 4), ' ')")} AS h
  FROM g JOIN w USING (doc_id)
)
SELECT DISTINCT doc_id,
       MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
FROM h
QUALIFY i <= m - 3
"""

# MOSS match step over the winnowing fingerprints: cap degenerate
# fingerprints (QUALIFY mirrors dedup.cap_buckets), pair on shared
# fingerprint, keep pairs sharing >= 2
WINNOW_CANDIDATES = (
    "WITH fp AS (\n"
    + WINNOW_FINGERPRINTS
    + """),
fpc AS (
  SELECT * FROM fp
  QUALIFY COUNT(*) OVER (PARTITION BY fingerprint) <= 50
)
SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS n_shared
FROM fpc l JOIN fpc r ON l.fingerprint = r.fingerprint AND l.doc_id < r.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""
)

SIMHASH = f"""
SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), j ->
         CASE WHEN list_sum(list_transform(hs,
                h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
              THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
FROM (SELECT doc_id,
             list_transform(string_split(text, ' '), t -> {H60.format(s='t')}) AS hs
      FROM documents)
"""

# SimHash verify: banded candidates → exact 60-bit Hamming distance
# (bit_count(xor) in both engines) ≤ threshold (3 = production default)
SIMHASH_VERIFIED = f"""
WITH s AS ({SIMHASH}),
b AS (
  SELECT doc_id, g.band, (simhash >> (g.band * 15)) & 32767 AS key
  FROM s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) g
  QUALIFY COUNT(*) OVER (PARTITION BY g.band, (simhash >> (g.band * 15)) & 32767) <= 100
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM b l JOIN b r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT c.a, c.b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cand c
JOIN s sa ON sa.doc_id = c.a
JOIN s sb ON sb.doc_id = c.b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""

# ---------------------------------------------------------------------------
# similarity (list_reduce = guaranteed left fold, matching Spark aggregate)
# ---------------------------------------------------------------------------

_DOT = "list_reduce(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
_NRM = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"


def _cos(a: str, b: str) -> str:
    return f"round({_DOT.format(a=a, b=b)} / ({_NRM.format(a=a)} * {_NRM.format(a=b)}), 6)"


EMBED_COSINE_TOPK = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0)
SELECT vec_id, {_cos('v', 'qv')} AS sim
FROM s CROSS JOIN q
ORDER BY sim DESC, vec_id LIMIT 10
"""

# IVF ANN: cell = argmax cosine to 6 deterministic centroids (lowest-index
# tie-break == ORDER BY d DESC, bit); probe the query's nprobe=2 nearest
# cells; exact cosine inside. Assignment uses UNROUNDED cosines — both
# engines fold identically, so the argmax picks the same cell bit-for-bit.
_COS_RAW = f"({_DOT.format(a='{a}', b='{b}')} / ({_NRM.format(a='{a}')} * {_NRM.format(a='{b}')}))"

EMBED_IVF_TOPK = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS bit, v AS av
      FROM v ORDER BY vec_id LIMIT 6),
dots AS (SELECT v.vec_id, a.bit, {_COS_RAW.format(a='v.v', b='a.av')} AS d
         FROM v CROSS JOIN a),
cells AS (SELECT vec_id, bit AS cell FROM (
            SELECT vec_id, bit,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, bit) AS rn
            FROM dots) WHERE rn = 1),
qc AS (SELECT bit AS cell FROM (
         SELECT bit, row_number() OVER (ORDER BY d DESC, bit) AS rn
         FROM dots WHERE vec_id = 0) WHERE rn <= 2),
q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
s AS (SELECT c.vec_id, v.v FROM cells c JOIN v USING (vec_id)
      WHERE c.cell IN (SELECT cell FROM qc) AND c.vec_id <> 0)
SELECT vec_id, {_cos('v', 'qv')} AS sim
FROM s CROSS JOIN q
ORDER BY sim DESC, vec_id LIMIT 10
"""

# multi-probe IVF near-dups (the r4 DEFAULT embedding-dedup path): each
# vector in its top-2 cells (rn <= 2 mirrors ivf_assign_multi's
# sort_array+slice; d DESC, bit == descending (sim, -cell) structs);
# DISTINCT folds pairs that co-occur in both shared cells — sim is the
# same deterministic left fold in both engines, so duplicates are
# bit-identical and collapse exactly.
_IVF_MULTI_CTE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS bit, v AS av
      FROM v ORDER BY vec_id LIMIT 32),
dots AS (SELECT v.vec_id, a.bit, {_COS_RAW.format(a='v.v', b='a.av')} AS d
         FROM v CROSS JOIN a),
cells AS (SELECT vec_id, bit AS cell FROM (
            SELECT vec_id, bit,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, bit) AS rn
            FROM dots) WHERE rn <= 2),
lv AS (SELECT c.vec_id AS a, v.v AS va, c.cell FROM cells c JOIN v USING (vec_id)),
rv AS (SELECT c.vec_id AS b_id, v.v AS vb, c.cell FROM cells c JOIN v USING (vec_id))"""

EMBED_NEAR_DUPS = (
    _IVF_MULTI_CTE
    + f"""
SELECT DISTINCT a, b_id AS b, {_cos('va', 'vb')} AS sim
FROM lv JOIN rv ON lv.cell = rv.cell AND lv.a < rv.b_id
WHERE {_cos('va', 'vb')} >= 0.35
"""
)

# end-to-end corpus construction: quality gate -> language gate ->
# near-dup cluster survivors. The dedup CTE chain is re-targeted from
# `documents` to the filtered `docs_src` by substitution — every stage is
# the already-gated oracle logic, composed.
_DOCS_SRC_CTE = f"""docs_src AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN (
    SELECT doc_id,
           CASE WHEN fr > en AND fr > de AND fr > 0 THEN 'fr'
                WHEN de > en AND de > 0 THEN 'de'
                WHEN en > 0 THEN 'en'
                ELSE 'und' END AS lang,
           nt,
           round(CAST(sw AS DOUBLE) / greatest(nt, 1), 6) AS swr
    FROM (
      SELECT doc_id,
             len(w) AS nt,
             len(list_filter(w, t -> t IN {_STOP})) AS sw,
             len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of'))) AS en,
             len(list_filter(w, t -> t IN ('der', 'die', 'das', 'und'))) AS de,
             len(list_filter(w, t -> t IN ('le', 'la', 'et', 'les'))) AS fr
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
  ) q USING (doc_id)
  WHERE q.lang = 'en' AND q.nt >= 5 AND q.swr <= 0.6
)"""

TRAINING_CORPUS = (
    "WITH RECURSIVE "
    + _DOCS_SRC_CTE
    + ",\n"
    + _VERIFIED_PAIRS_CTES.lstrip().removeprefix("WITH ").replace(
        "FROM documents", "FROM docs_src"
    )
    + _CC_TAIL
    + """SELECT doc_id FROM docs_src
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)"""
)

# IVF ANN recall@10 vs exact cosine top-10 — the full approx queries
# nest as subqueries (DuckDB allows WITH inside a derived table);
# is_default marks the config ivf_near_dups-style workflows run (n=6,
# nprobe=2); meets_floor gates its recall against the 0.8 floor
# (logspark.queries.ANN_RECALL_FLOOR) under the value hash
ANN_RECALL = f"""
SELECT 'ivf' AS method,
       round(COUNT(*) / 10.0, 6) AS recall_at_10,
       TRUE AS is_default,
       round(COUNT(*) / 10.0, 6) >= 0.8 AS meets_floor
FROM (SELECT vec_id FROM ({EMBED_IVF_TOPK}) ) a
JOIN (SELECT vec_id FROM ({EMBED_COSINE_TOPK}) ) e USING (vec_id)
"""

# cluster resolution over EMBEDDING near-dup pairs (same recursive
# reachability as DEDUP_APPLY — the machinery is pair-family-agnostic)
EMBED_DEDUP_APPLY = (
    "WITH RECURSIVE "
    + _IVF_MULTI_CTE.lstrip().removeprefix("WITH ")
    + f""",
vp AS (
  SELECT DISTINCT a, b_id AS b
  FROM lv JOIN rv ON lv.cell = rv.cell AND lv.a < rv.b_id
  WHERE {_cos('va', 'vb')} >= 0.35
)"""
    + _CC_TAIL
    + """SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)"""
)

# concatenate-and-cut sequence packing at L=128: closed form over the
# global token prefix sum; generate_series explodes each doc over its
# spanned sequences — mirrors textops.pack_sequences exactly
PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
  WHERE len(string_split(text, ' ')) > 0
), c AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s
  FROM t
), e AS (
  SELECT doc_id, n, s,
         unnest(generate_series(s // 128, (s + n - 1) // 128)) AS seq_idx
  FROM c
)
SELECT CAST(seq_idx AS BIGINT) AS seq_idx, doc_id,
       CAST(GREATEST(seq_idx * 128 - s, 0) AS BIGINT) AS doc_tok_start,
       CAST(LEAST((seq_idx + 1) * 128, s + n) - GREATEST(seq_idx * 128, s) AS BIGINT)
         AS n_toks_in_seq
FROM e
"""

# transcripts -> SFT (context, target) rows: per assistant turn, context =
# last 3 prior turns as 'role: text' lines (window list + tail slice)
CONVERSATION_EXAMPLES = """
WITH t AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(event_id AS INT) AS turn_idx,
         CASE WHEN event_type IN ('click', 'view') THEN 'user'
              WHEN event_type IN ('signup', 'purchase') THEN 'assistant'
              ELSE 'tool' END AS role,
         CASE WHEN value >= 400 THEN 'note ' || props ELSE props END AS text
  FROM events
), w AS (
  SELECT conv_id, turn_idx, role, text,
         list(role || ': ' || text) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ctx
  FROM t
)
SELECT conv_id, turn_idx,
       array_to_string(list_slice(ctx, GREATEST(len(ctx) - 2, 1), len(ctx)), chr(10)) AS context,
       text AS target
FROM w
WHERE role = 'assistant' AND len(ctx) > 0
"""

# A3 rollup surface: subtotals + grand total via grouping sets — Spark's
# rollup() and DuckDB's GROUP BY ROLLUP produce identical (null-marked) rows
SINK_COUNTS_ROLLUP = """
WITH routed AS (
  SELECT 'clicks' AS sink, event_type FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT 'conversions', event_type FROM events WHERE event_type IN ('signup', 'purchase')
  UNION ALL
  SELECT 'errors_sink', event_type FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT 'hot', event_type FROM events WHERE value >= 400
)
SELECT sink, event_type, COUNT(*) AS n FROM routed GROUP BY ROLLUP (sink, event_type)
"""

# ---------------------------------------------------------------------------
# multimodal: content = UTF-8 bytes of documents.text (ASCII corpus, so
# byte == code point); features from exact integer moments — mean = s/n,
# std = sqrt(sq/n - mean²) are single IEEE ops, bit-identical to the
# mapInPandas kernel (multimodal.extract_features)
# ---------------------------------------------------------------------------

MULTIMODAL_FEATURES = """
WITH codes AS (
  SELECT doc_id,
         length(text) AS n,
         list_transform(generate_series(1, length(text)),
                        i -> unicode(substring(text, i, 1))) AS cs
  FROM documents
), m AS (
  SELECT doc_id, n,
         CAST(coalesce(list_sum(cs), 0) AS DOUBLE) / greatest(n, 1) AS mean,
         CAST(coalesce(list_sum(list_transform(cs, c -> c * c)), 0) AS DOUBLE)
           / greatest(n, 1) AS meansq
  FROM codes
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CAST(n AS INT) AS n_bytes,
       round(mean, 6) AS feat_mean,
       round(sqrt(greatest(meansq - mean * mean, 0)), 6) AS feat_std,
       CAST(greatest(1, n // 1000) AS INT) AS frame_count
FROM m
"""

ORACLES: dict[str, str] = {
    "pipeline_sink_counts": PIPELINE_SINK_COUNTS,
    # salted two-phase variant must produce value-identical counts
    "pipeline_sink_counts_salted": PIPELINE_SINK_COUNTS,
    "pipeline_routed_rows": PIPELINE_ROUTED_ROWS,
    "grok_typed_capture": GROK_TYPED_CAPTURE,
    "grok_failure_tag": GROK_FAILURE_TAG,
    "patch_template": PATCH_TEMPLATE,
    "patch_regex_replace": PATCH_REGEX_REPLACE,
    "json_codec": JSON_CODEC,
    "predicate_filter": PREDICATE_FILTER,
    "mutate_tags": MUTATE_TAGS,
    "enrich_geo": ENRICH_GEO,
    "router_fanout": ROUTER_FANOUT,
    "router_index_template": ROUTER_INDEX_TEMPLATE,
    "sink_payload_json": SINK_PAYLOAD_JSON,
    "sink_counts_hourly": SINK_COUNTS_HOURLY,
    "window_bucket_agg": WINDOW_BUCKET_AGG,
    "topk_users": TOPK_USERS,
    "turn_sequence_lag": TURN_SEQUENCE_LAG,
    "distinct_users": DISTINCT_USERS,
    "conversation_sessions": CONVERSATION_SESSIONS,
    "token_stats": TOKEN_STATS,
    "quality_scores": QUALITY_SCORES,
    "lang_id": LANG_ID,
    "lang_id_confusion": LANG_ID_CONFUSION,
    "doc_fingerprint": DOC_FINGERPRINT,
    "token_count_bpe": TOKEN_COUNT_BPE,
    "pii_scrub": PII_SCRUB,
    "chunk_documents": CHUNK_DOCUMENTS,
    "mixture_sample": MIXTURE_SAMPLE,
    "dedup_exact": DEDUP_EXACT,
    "minhash_signatures": MINHASH_SIGNATURES,
    "lsh_candidates": LSH_CANDIDATES,
    "pack_sequences": PACK_SEQUENCES,
    "ngram_jaccard_verified": NGRAM_JACCARD_VERIFIED,
    "dedup_clusters": DEDUP_CLUSTERS,
    "dedup_apply": DEDUP_APPLY,
    "incremental_dedup_pairs": INCREMENTAL_DEDUP_PAIRS,
    "training_corpus": TRAINING_CORPUS,
    "simhash": SIMHASH,
    "simhash_verified": SIMHASH_VERIFIED,
    "winnow_fingerprints": WINNOW_FINGERPRINTS,
    "winnow_candidates": WINNOW_CANDIDATES,
    "embed_cosine_topk": EMBED_COSINE_TOPK,
    "conversation_examples": CONVERSATION_EXAMPLES,
    "embed_ivf_topk": EMBED_IVF_TOPK,
    "embed_near_dups": EMBED_NEAR_DUPS,
    "embed_dedup_apply": EMBED_DEDUP_APPLY,
    "ann_recall": ANN_RECALL,
    "sink_counts_rollup": SINK_COUNTS_ROLLUP,
    "multimodal_features": MULTIMODAL_FEATURES,
}
