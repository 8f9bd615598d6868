"""The filter chain: grok / patch / mutate / json / drop, plus the registry.

Reference model (SURVEY.md §2.2, §2.9): go-logagent registers filter plugins
by name (`RegistFilterHandler` in utils/config.go — reference dir empty at
build time, semantics pinned by BASELINE.json) and applies them to each event
in config order, mutating the event. Here a "filter" is a **DataFrame
transform** `(df, cfg) -> df`; the chain is a left fold over the config list.
Heavy text work (grok) is a single Arrow-batched pandas UDF; everything else
is native Column expressions (BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from logspark.functions.predicates import compile_predicate
from logspark.functions.templates import compile_template
from logspark.grok import compile_grok, compile_grok_java

GROK_FAILURE_TAG = "_grokparsefailure"
JSON_FAILURE_TAG = "_jsonparsefailure"

FilterFn = Callable[[DataFrame, dict], DataFrame]
FILTER_REGISTRY: dict[str, FilterFn] = {}


def register_filter(name: str) -> Callable[[FilterFn], FilterFn]:
    """Decorator-based plugin registry — the Spark-native equivalent of
    go-logagent's RegistFilterHandler(name, initFunc)."""

    def deco(fn: FilterFn) -> FilterFn:
        FILTER_REGISTRY[name] = fn
        return fn

    return deco


def ensure_tags(df: DataFrame, tags_col: str = "tags") -> DataFrame:
    """Events enter the pipeline with an empty tag set (LogEvent.Tags)."""
    if tags_col not in df.columns:
        df = df.withColumn(tags_col, F.array().cast("array<string>"))
    return df


def add_tags(tags_expr, new_tags: list[str]):
    out = tags_expr
    for t in new_tags:
        out = F.array_union(out, F.array(F.lit(t)))
    return out


def apply_filter_chain(df: DataFrame, filter_cfgs: list[dict]) -> DataFrame:
    """Fold the config's filter list over the DataFrame, in order —
    the declarative equivalent of the reference's sequential filter worker."""
    df = ensure_tags(df)
    for cfg in filter_cfgs:
        ftype = cfg.get("type")
        if ftype not in FILTER_REGISTRY:
            raise ValueError(
                f"unknown filter type {ftype!r}; known: {sorted(FILTER_REGISTRY)}"
            )
        df = FILTER_REGISTRY[ftype](df, cfg)
    return df


# ---------------------------------------------------------------------------
# grok — vectorized pandas-UDF regex extraction (SURVEY.md §2.2 row F1)
# ---------------------------------------------------------------------------

_SPARK_TYPES = {"string": StringType(), "int": LongType(), "float": DoubleType()}


def grok_output_schema(match: list[str] | str, patterns: dict | None, anchor: str) -> StructType:
    cg = compile_grok(match, patterns, anchor)
    fields = [StructField(n, _SPARK_TYPES[t], True) for n, t in cg.field_types.items()]
    fields.append(StructField("_grok_matched", BooleanType(), False))
    return StructType(fields)


_GROK_KEYS = frozenset({"type", "source", "match", "patterns", "anchor", "failure_tag", "add_tag"})


@register_filter("grok")
def grok_filter(df: DataFrame, cfg: dict) -> DataFrame:
    """Compile `match` pattern(s) to anchored regexes; extract named captures
    from `source`; promote captures to top-level columns; tag non-matching
    rows with `_grokparsefailure` (first-match-wins across patterns).

    The engine follows from the pattern set alone: JVM-NATIVE when every
    pattern is safely expressible as Java regex with always-participating
    captures (logspark.grok compile_grok_java) — rlike + regexp_extract +
    try_cast columns, zero Python workers, whole-stage codegen; otherwise
    the Arrow-batched pandas UDF (_grok_pandas), which exists only for
    patterns that are not JVM-expressible (optional or alternated
    captures). Both engines share ASCII-class \\s \\w \\d \\b semantics, the
    RE2/DuckDB parity target. A config key outside the grok keys raises.

    Parse metrics: rows/failures come from the plan-level `observe` the
    pipeline attaches (plans/pipeline.py), which is exact for both engines
    and free."""
    unknown = sorted(set(cfg) - _GROK_KEYS)
    if unknown:
        raise ValueError(f"unknown grok config key(s) {unknown}; known: {sorted(_GROK_KEYS)}")
    jpatterns = compile_grok_java(cfg["match"], cfg.get("patterns"), cfg.get("anchor", "start"))
    if jpatterns is not None:
        return _grok_native(df, cfg, jpatterns)
    return _grok_pandas(df, cfg)


def _grok_pandas(df: DataFrame, cfg: dict) -> DataFrame:
    """The pandas-UDF grok engine: one Arrow-batched UDF (per-worker compile
    cache) returns every capture plus the match bit in one struct."""
    match, patterns, anchor = cfg["match"], cfg.get("patterns"), cfg.get("anchor", "start")
    schema = grok_output_schema(match, patterns, anchor)
    # Only plain config values cross the closure boundary — each Python
    # worker re-resolves the compiled grok from its own process cache.
    patterns_items = tuple(sorted((patterns or {}).items())) or None

    def _extract(s: pd.Series) -> pd.DataFrame:
        cg = compile_grok(match, dict(patterns_items) if patterns_items else None, anchor)
        return cg.extract_pandas(s)

    udf = F.pandas_udf(_extract, returnType=schema)
    df = df.withColumn("_g", udf(F.col(cfg.get("source", "text"))))
    for f in schema.fields[:-1]:
        df = df.withColumn(f.name, F.col("_g").getField(f.name))
    matched = F.coalesce(F.col("_g").getField("_grok_matched"), F.lit(False))
    new_tags = F.when(matched, add_tags(F.col("tags"), cfg.get("add_tag", []))).otherwise(
        add_tags(F.col("tags"), [cfg.get("failure_tag", GROK_FAILURE_TAG)])
    )
    return df.withColumn("tags", new_tags).drop("_g")


_GROK_DELIM = "\x01"  # never occurs in log text; collisions detected per row


def _grok_native(df: DataFrame, cfg: dict, jpatterns) -> DataFrame:
    """JVM-side grok — all expressions inside whole-stage codegen, no Arrow
    boundary. Regex evaluations per row are capture-count-INDEPENDENT:

    - one `rlike` per pattern for the match bit (anchored patterns reject
      non-matches near-O(1));
    - one `regexp_replace` per matched pattern rewrites the row to
      "$g1␁$g2␁…" — a single regex evaluation yields EVERY capture — then
      `split` + `element_at` project the fields out. (Per-capture
      regexp_extract re-ran the full regex k times; measured ~40% slower
      than the pandas UDF on the 12-capture canonical config, while this
      form beats it.)
    - a capture containing the delimiter would shift the split; detected
      per row (wrong part count → exact per-group regexp_extract fallback).

    Typed captures coerce via `try_cast` (null on bad parse — same as the
    pandas path's to_numeric coerce)."""
    schema = grok_output_schema(cfg["match"], cfg.get("patterns"), cfg.get("anchor", "start"))
    src = F.col(cfg.get("source", "text"))

    # Materialize the expensive expressions (rlike match bits; the one-shot
    # replace+split capture vector) as REAL columns, referenced by name
    # below. Passing the Column exprs around instead would copy the subtree
    # into every consumer, and Catalyst does not common-subexpression-
    # eliminate under conditional (CASE) branches — measured as one
    # regexp_replace PER FIELD per row, 2-3x slower than the pandas UDF.
    # As named non-cheap multi-referenced columns, CollapseProject keeps
    # them in their own Project (SPARK-36718) → one evaluation per row.
    tmp: list[str] = []
    ms: list[F.Column] = []
    for i, p in enumerate(jpatterns):
        mc = f"_gm{i}"
        df = df.withColumn(mc, src.rlike(p.regex))
        ms.append(F.col(mc))
        tmp.append(mc)

    parts: list[F.Column | None] = []
    for i, p in enumerate(jpatterns):
        if len(p.captures) >= 2:
            repl = _GROK_DELIM.join(f"${c.gidx}" for c in p.captures)
            # consume the whole string so the replacement IS the whole
            # result: [\s\S]* swallows the unmatched tail (and, for
            # unanchored patterns, a lazy head swallows the prefix) without
            # perturbing capture values — it always succeeds on whatever
            # the original pattern left over. The (?d) UNIX_LINES flag must
            # stay at position 0 (it applies from where it appears).
            from logspark.grok import JAVA_FLAGS

            body = p.regex.removeprefix(JAVA_FLAGS)
            consume = body + r"[\s\S]*"
            if not body.startswith("^"):
                consume = r"[\s\S]*?" + consume
            consume = JAVA_FLAGS + consume
            pc = f"_gp{i}"
            df = df.withColumn(
                pc,
                F.split(F.when(ms[i], F.regexp_replace(src, consume, repl)), _GROK_DELIM),
            )
            parts.append(F.col(pc))
            tmp.append(pc)
        else:
            parts.append(None)  # 0/1 captures: direct regexp_extract is optimal

    matched = F.lit(False)
    for m in reversed(ms):
        matched = F.when(m, F.lit(True)).otherwise(matched)

    for field in schema.fields[:-1]:  # last field is _grok_matched
        name = field.name
        value = F.lit(None).cast("string")
        for m, p, pa in zip(reversed(ms), reversed(jpatterns), reversed(parts)):
            pos = next((j for j, c in enumerate(p.captures) if c.name == name), None)
            if pos is None:
                v = F.lit(None).cast("string")
            elif pa is None:
                v = F.regexp_extract(src, p.regex, p.captures[pos].gidx)
            else:
                v = F.when(
                    F.size(pa) == len(p.captures), F.element_at(pa, pos + 1)
                ).otherwise(F.regexp_extract(src, p.regex, p.captures[pos].gidx))
            value = F.when(m, v).otherwise(value)
        if isinstance(field.dataType, LongType):
            value = value.try_cast("long")
        elif isinstance(field.dataType, DoubleType):
            value = value.try_cast("double")
        df = df.withColumn(name, value)

    new_tags = F.when(matched, add_tags(F.col("tags"), cfg.get("add_tag", []))).otherwise(
        add_tags(F.col("tags"), [cfg.get("failure_tag", GROK_FAILURE_TAG)])
    )
    return df.withColumn("tags", new_tags).drop(*tmp)


# ---------------------------------------------------------------------------
# patch — field templates + regex substitution (SURVEY.md §2.2 row F2)
# ---------------------------------------------------------------------------


@register_filter("patch")
def patch_filter(df: DataFrame, cfg: dict) -> DataFrame:
    """Set fields from `%{field}` / `%{+fmt}` templates and/or regex-patch
    text columns. Pure native expressions (concat / date_format /
    regexp_replace) — zero Python at run time."""
    for dest, template in (cfg.get("fields") or {}).items():
        df = df.withColumn(dest, compile_template(template, df, ts_col=cfg.get("ts_col", "ts")))
    replaces = cfg.get("replace") or []
    if isinstance(replaces, dict):
        replaces = [replaces]
    for r in replaces:
        col = r.get("field", "text")
        df = df.withColumn(col, F.regexp_replace(F.col(col), r["pattern"], r["replacement"]))
    if cfg.get("add_tag"):
        df = df.withColumn("tags", add_tags(F.col("tags"), cfg["add_tag"]))
    return df


# ---------------------------------------------------------------------------
# mutate — tag/field bookkeeping (SURVEY.md §2.2 rows F3/F4)
# ---------------------------------------------------------------------------


@register_filter("mutate")
def mutate_filter(df: DataFrame, cfg: dict) -> DataFrame:
    for dest, template in (cfg.get("add_field") or {}).items():
        df = df.withColumn(dest, compile_template(template, df))
    for col in cfg.get("remove_field", []):
        if col in df.columns:
            df = df.drop(col)
    for old, new in (cfg.get("rename") or {}).items():
        df = df.withColumnRenamed(old, new)
    if cfg.get("add_tag"):
        df = df.withColumn("tags", add_tags(F.col("tags"), cfg["add_tag"]))
    for t in cfg.get("remove_tag", []):
        df = df.withColumn("tags", F.array_remove(F.col("tags"), t))
    return df


# ---------------------------------------------------------------------------
# json — codec for embedded JSON payloads (SURVEY.md §2.1 row S5)
# ---------------------------------------------------------------------------


@register_filter("json")
def json_filter(df: DataFrame, cfg: dict) -> DataFrame:
    """Parse `source` as JSON. With a `schema` (DDL string) the fields are
    promoted to top-level columns; without one the payload lands in a
    map<string,string> column (`target`, default `json_map`) — the dynamic
    `Extra`-fields overflow of the reference's event model."""
    source = cfg.get("source", "text")
    failure_tag = cfg.get("failure_tag", JSON_FAILURE_TAG)
    # Object schemas can only parse inputs whose first non-space char is '{'
    # — anything else fails Jackson anyway. Nulling those inputs up front
    # skips the Jackson parse entirely (from_json(NULL) → NULL struct, same
    # downstream semantics: fields null, failure tagged). Measured ~85% of
    # the codec's cost on a 10%-json corpus.
    # rlike, not ltrim().startswith: ltrim strips only spaces, so JSON behind
    # a tab/newline would be nulled and wrongly failure-tagged (ADVICE r1)
    src_col = F.when(F.col(source).rlike(r"^\s*\{"), F.col(source))
    if cfg.get("schema"):
        tag_on_failure = cfg.get("tag_on_failure", True)
        # PERMISSIVE from_json yields a struct of nulls (not a null struct)
        # on malformed input, so struct-null is NOT a failure signal; a
        # corrupt-record field is the precise one. It retains the raw text
        # per failed row, so it is only added when failure tagging is on.
        schema = cfg["schema"] + (", _corrupt string" if tag_on_failure else "")
        opts = (
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}
            if tag_on_failure
            else {}
        )
        df = df.withColumn("_j", F.from_json(src_col, schema, opts))
        parsed_fields = [
            n for n in df.schema["_j"].dataType.fieldNames() if n != "_corrupt"
        ]
        for name in parsed_fields:
            df = df.withColumn(name, F.col("_j").getField(name))
        if tag_on_failure:  # tag while _j is still resolvable
            ok = F.col("_j").isNotNull() & F.col("_j").getField("_corrupt").isNull()
            df = df.withColumn(
                "tags",
                F.when(ok, F.col("tags")).otherwise(add_tags(F.col("tags"), [failure_tag])),
            )
        return df.drop("_j")
    target = cfg.get("target", "json_map")
    df = df.withColumn(target, F.from_json(src_col, "map<string,string>"))
    if cfg.get("tag_on_failure", True):
        ok = F.col(target).isNotNull()
        df = df.withColumn(
            "tags",
            F.when(ok, F.col("tags")).otherwise(add_tags(F.col("tags"), [failure_tag])),
        )
    return df


# ---------------------------------------------------------------------------
# drop — discard events matching a predicate
# ---------------------------------------------------------------------------


@register_filter("drop")
def drop_filter(df: DataFrame, cfg: dict) -> DataFrame:
    pred = compile_predicate(cfg.get("when"))
    return df.filter(~pred)
