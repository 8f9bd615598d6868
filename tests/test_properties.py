"""Property-based invariants (SURVEY.md §5.2 layer 4, hypothesis).

Pure-Python properties run per-example; Spark properties run on a handful
of drawn corpora (Spark jobs are too slow for per-example execution, so we
draw row batches and assert set-level invariants in one pass).
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from logspark.grok import GrokCompiler, compile_grok

# ---------------------------------------------------------------------------
# grok compiler properties (no Spark)
# ---------------------------------------------------------------------------

_TOOL_PAT = (
    r"tool=%{WORD:tool} lat=%{INT:lat:int} ok=%{WORD:ok}"
)

text_lines = st.one_of(
    st.builds(
        "tool={} lat={} ok={}".format,
        st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True),
        st.integers(-10**9, 10**9),
        st.sampled_from(["yes", "no"]),
    ),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
        max_size=80,
    ),
)


@given(st.lists(text_lines, min_size=1, max_size=60))
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_vectorized_extract_equals_scalar_match(lines):
    """extract_pandas over a batch ≡ GrokPattern.match row-by-row."""
    cg = compile_grok([_TOOL_PAT])
    pat = cg.patterns[0]
    out = cg.extract_pandas(pd.Series(lines, dtype="object"))
    for i, line in enumerate(lines):
        scalar = pat.match(line)
        assert bool(out["_grok_matched"].iloc[i]) == (scalar is not None)
        if scalar is not None:
            assert out["tool"].iloc[i] == scalar["tool"]
            lat = out["lat"].iloc[i]
            assert (pd.isna(lat) and scalar["lat"] is None) or int(lat) == scalar["lat"]


@given(st.lists(text_lines, min_size=1, max_size=40))
@settings(max_examples=40, deadline=None)
def test_matched_xor_failure(lines):
    """Every line either matches or would receive the failure tag — never
    both, never neither (matched ⊕ _grokparsefailure invariant)."""
    cg = compile_grok([_TOOL_PAT])
    out = cg.extract_pandas(pd.Series(lines, dtype="object"))
    for i, line in enumerate(lines):
        anchored = re.match(cg.patterns[0].regex, line)
        assert bool(out["_grok_matched"].iloc[i]) == bool(anchored)


@given(
    st.lists(
        st.from_regex(r"[a-z]{1,8}", fullmatch=True), min_size=1, max_size=8, unique=True
    )
)
@settings(max_examples=30, deadline=None)
def test_custom_library_roundtrip(words):
    """Any custom pattern name resolves and captures its own definition."""
    lib = {f"W{i}": re.escape(w) for i, w in enumerate(words)}
    c = GrokCompiler(lib)
    pattern = " ".join(f"%{{W{i}:f{i}}}" for i in range(len(words)))
    g = c.compile(pattern)
    got = g.match(" ".join(words))
    assert got == {f"f{i}": w for i, w in enumerate(words)}


# ---------------------------------------------------------------------------
# template compiler properties (Spark, batched corpora)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["click", "view", "error"]),
            st.integers(0, 10**6),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_template_compiler_vs_python_format(spark, rows):
    from logspark.functions.templates import compile_template

    pdf = pd.DataFrame(rows, columns=["event_type", "user_id"])
    pdf["ts"] = pd.Timestamp("2024-02-03 04:05:06")
    df = spark.createDataFrame(pdf)
    out = df.withColumn(
        "s", compile_template("%{event_type}#%{user_id}@%{+yyyy-MM-dd}|%{missing}", df)
    ).collect()
    for r in out:
        assert r["s"] == f"{r['event_type']}#{r['user_id']}@2024-02-03|%{{missing}}"


# ---------------------------------------------------------------------------
# pipeline invariants on drawn corpora (single Spark pass per example set)
# ---------------------------------------------------------------------------


def test_routing_invariants_on_random_corpus(spark, transcripts, dims):
    """Input rows == parse successes + failures; every routed row's text is
    byte-identical to its input row's text (per-turn text equality)."""
    import pyspark.sql.functions as F

    from logspark.config import canonical_config
    from logspark.operators.enrich import apply_enrich_chain
    from logspark.operators.filters import apply_filter_chain
    from logspark.operators.router import route

    cfg = canonical_config()
    parsed = apply_filter_chain(transcripts, cfg.filter)
    parsed = apply_enrich_chain(parsed, cfg.enrich, dims)
    routed = route(parsed, cfg.output).cache()

    n = transcripts.count()
    fail = parsed.filter(F.array_contains("tags", "_grokparsefailure")).count()
    ok = parsed.filter(F.array_contains("tags", "parsed")).count()
    assert ok + fail == n

    # text passthrough on EVERY sink
    orig = transcripts.select("conv_id", "turn_idx", F.col("text").alias("t0"))
    bad = (
        routed.join(orig, ["conv_id", "turn_idx"])
        .filter(F.col("text") != F.col("t0"))
        .count()
    )
    assert bad == 0
    routed.unpersist()


# ---------------------------------------------------------------------------
# native (JVM) grok engine ≡ pandas engine — drawn corpora, both engines
# ---------------------------------------------------------------------------

# Full 7-bit corpus, including \x1c-\x1f: Python's *Unicode* \s includes
# those (and \x85) while Java's default \s is [ \t\n\x0B\f\r], so the pandas
# engine compiles with re.ASCII to pin \s\S\w\d\b to the Java defaults —
# this corpus exercises exactly that boundary. \x01 (the native engine's
# capture delimiter) is INCLUDED to exercise the per-row collision fallback.
_ascii_lines = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=127),
    max_size=60,
)
_structured = st.builds(
    "ev k={} d={} rest={}".format,
    st.integers(-10**6, 10**6),
    st.sampled_from(["a b", "", "x\x01y", "0.5"]),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=20),
)

_ENGINE_PATTERNS = [
    r"ev k=%{INT:k:int} d=%{DATA:d} rest=%{GREEDYDATA:rest}",
    r"%{NOTSPACE:head} %{GREEDYDATA:tail}",
]


def _native_and_pandas(df, cfg, cols):
    """Rows of the grok filter (native for these JVM-expressible patterns)
    and of the pandas reference engine called directly."""
    from logspark.grok import compile_grok_java
    from logspark.operators import filters

    assert compile_grok_java(cfg["match"], None, cfg.get("anchor", "start")) is not None
    nat = filters.apply_filter_chain(df, [cfg]).select(*cols).collect()
    pan = filters._grok_pandas(filters.ensure_tags(df), cfg).select(*cols).collect()
    return nat, pan


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(_structured, _ascii_lines), min_size=1, max_size=40))
def test_native_engine_equals_pandas_engine(spark, lines):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(lines)], "rid int, text string")
    base = {"type": "grok", "match": _ENGINE_PATTERNS}
    cols = ["rid", "k", "d", "rest", "head", "tail", "tags"]
    nat, pan = _native_and_pandas(df, base, cols)
    for a, b in zip(sorted(nat), sorted(pan)):
        assert a == b, (a, b)


def test_native_engine_carriage_return_parity(spark):
    """Deterministic \\r regression (ADVICE r2): without (?d) UNIX_LINES,
    Java's '.' excludes \\r so DATA/GREEDYDATA captures truncate at a stray
    carriage return and anchor='both' patterns fail to match entirely —
    while the pandas/reference path (Python re, RE2) excludes only \\n."""
    from logspark.operators.filters import apply_filter_chain

    lines = [
        "ev k=1 d=a\rb rest=x\ry",   # \r inside both DATA and GREEDYDATA
        "ev k=2 d=\r rest=\r",        # captures that are exactly \r
        "head\rmid tail",             # \r inside NOTSPACE-adjacent text
        "ev k=3 d=ok rest=plain",     # control row, no \r
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(lines)], "rid int, text string")
    for anchor in ("start", "both"):
        base = {
            "type": "grok",
            "match": [r"ev k=%{INT:k:int} d=%{DATA:d} rest=%{GREEDYDATA:rest}"],
            "anchor": anchor,
        }
        cols = ["rid", "k", "d", "rest", "tags"]
        nat, pan = _native_and_pandas(df, base, cols)
        assert sorted(nat) == sorted(pan), (anchor, sorted(nat), sorted(pan))
    # and the \r rows really do match (not just agree-on-failure)
    out = apply_filter_chain(df, [base])
    import pyspark.sql.functions as F

    matched = out.filter(~F.array_contains("tags", "_grokparsefailure")).count()
    assert matched == 3  # rows 0, 1, 3 ("head\rmid tail" lacks the ev prefix)


def test_native_engine_control_char_whitespace_parity(spark):
    """Deterministic \\x1c-\\x1f / \\x85 regression (VERDICT r3): Python's
    Unicode \\s includes the information separators \\x1c-\\x1f and NEL
    \\x85; Java's default \\s does not, so NOTSPACE (\\S+) matched them
    natively but not in the pandas engine until the re.ASCII fix
    (grok.py compile()).  Pin both engines on every such byte."""
    lines = (
        ["\x1c x", "\x1d x", "\x1e x", "\x1f x", "\x1f ", "\x85 x"]
        + ["a\x1cb tail", "plain line", "\x0b x"]  # \x0b IS whitespace in both
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(lines)], "rid int, text string"
    )
    base = {"type": "grok", "match": [r"%{NOTSPACE:head} %{GREEDYDATA:tail}"]}
    cols = ["rid", "head", "tail", "tags"]
    nat, pan = _native_and_pandas(df, base, cols)
    assert sorted(nat) == sorted(pan), (sorted(nat), sorted(pan))
    # semantic spot-checks: \x1f is NOT whitespace (Java default), so
    # "\x1f x" matches with head="\x1f"; "\x0b x" cannot match because
    # NOTSPACE refuses \x0b and the literal space then has nothing to bind.
    by_rid = {r["rid"]: r for r in nat}
    assert by_rid[3]["head"] == "\x1f" and by_rid[3]["tail"] == "x"
    assert "_grokparsefailure" in by_rid[8]["tags"]


# ---------------------------------------------------------------------------
# mixture_sample: two-phase distributed prefix sum ≡ naive per-source window
# ---------------------------------------------------------------------------

_mix_rows = st.lists(
    st.tuples(
        st.integers(0, 10_000),            # doc_id (dups dropped below)
        st.sampled_from(["s0", "s1", "s2", "s3"]),
        st.integers(1, 30),                # token count
    ),
    min_size=1,
    max_size=120,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    _mix_rows,
    st.integers(20, 400),  # s0/s2 budget
    st.integers(1, 60),    # s1 budget
    st.integers(2, 9),     # bucket count
)
def test_mixture_two_phase_equals_naive_window(spark, rows, b0, b1, nb):
    """The bucket decomposition must be invisible: for ANY corpus, budget
    set (one source deliberately unbudgeted), and bucket count, the
    two-phase prefix sum selects exactly the rows the naive single-window
    form would — including at bucket boundaries and for sources whose
    budget dies inside bucket 0."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from logspark.operators import textops

    seen: dict = {}
    for d, s, n in rows:
        seen.setdefault(d, (s, n))
    data = [(d, s, " ".join(["w"] * n)) for d, (s, n) in sorted(seen.items())]
    docs = spark.createDataFrame(data, "doc_id bigint, source string, text string")
    budgets = {"s0": b0, "s1": b1, "s2": b0}  # s3 unbudgeted → excluded
    got = {
        (r["doc_id"], r["n_tokens"], r["cum_tokens"])
        for r in textops.mixture_sample(docs, budgets, num_buckets=nb).collect()
    }
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    budget = F.when(F.col("source") == "s0", b0).when(F.col("source") == "s1", b1).when(
        F.col("source") == "s2", b0
    )
    naive = {
        (r["doc_id"], r["n_tokens"], r["cum_tokens"])
        for r in docs.withColumn("n_tokens", F.size(F.split("text", " ")).cast("long"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .collect()
    }
    assert got == naive


# ---------------------------------------------------------------------------
# BPE: Arrow encoder count + bpe_tokenize replace()-chain pieces ≡ classic
# min-rank-first reference encoder, random words
# ---------------------------------------------------------------------------

# biased toward the merge-table letters so merges (incl. cascades) fire often
_bpe_words = st.lists(
    st.text(alphabet="theandingorswclmuvyfTHE", min_size=1, max_size=14),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_bpe_words)
def test_bpe_chain_equals_classic_encoder_on_random_words(spark, words):
    """For ANY alphabetic words, `with_bpe_token_count` (the Arrow-batched
    encoder) must count exactly what the reference min-rank-first BPE
    encoder produces, and `bpe_tokenize` (the rank-ordered sentinel
    replace() chain) must yield exactly its pieces — the
    sequential≡classic equivalence holds for the whole input space, not
    just the curated word list."""
    import pyspark.sql.functions as F

    from logspark.operators import textops
    from tests.test_training_ops import _reference_bpe_encode

    words = [w for w in words if w] or ["the"]
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    row = textops.with_bpe_token_count(df).first()
    expect = sum(len(_reference_bpe_encode(w)) for w in words)
    assert row["n_tokens_bpe"] == expect, (text, row["n_tokens_bpe"], expect)
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    for r in wdf.select("w", textops.bpe_tokenize(F.col("w")).alias("pieces")).collect():
        assert r["pieces"] == _reference_bpe_encode(r["w"]), r["w"]
