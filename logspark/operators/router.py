"""Fan-out router: tag/condition predicates → sinks column → explode.

Reference semantics (SURVEY.md §2.8 row O5): every output plugin sees every
event and applies its own predicate; an event may land in SEVERAL sinks
(overlap allowed), or in none (dropped from sinks, still counted in
metrics). The explode form gives this in ONE pass over the parsed frame:

    sinks = array_compact(array(when(pred_i, 'sink_i') ...))
    routed = df.withColumn('sink', explode(sinks))

`explode` emits a row per matched sink and naturally drops rows whose sinks
array is empty — exactly duplicate-per-sink counting for the per-sink
aggregates. One projection, no per-sink re-scan, and the subsequent
`write.partitionBy('sink')` needs no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logspark.functions.predicates import compile_predicate


def sinks_column(sink_cfgs: list[dict]) -> Column:
    """sink cfg: {"name": str, "when": predicate-config (optional)}"""
    arms = [
        F.when(compile_predicate(cfg.get("when")), F.lit(cfg["name"]))
        for cfg in sink_cfgs
    ]
    return F.array_compact(F.array(*arms))


def index_column(df: DataFrame, sink_cfgs: list[dict], ts_col: str = "ts") -> Column:
    """Elastic-sink index-name templating (SURVEY.md §2.8 row O3): a sink
    config may carry `index: "logs-%{+yyyy.MM.dd}"` — the per-row index the
    reference's elastic output computes from its date template. Compiled to
    a CASE over the routed `sink` column via the shared template compiler;
    sinks without an index template get null."""
    from logspark.functions.templates import compile_template

    expr = F.lit(None).cast("string")
    for cfg in sink_cfgs:
        if cfg.get("index"):
            expr = F.when(
                F.col("sink") == cfg["name"], compile_template(cfg["index"], df, ts_col=ts_col)
            ).otherwise(expr)
    return expr


def route(df: DataFrame, sink_cfgs: list[dict]) -> DataFrame:
    """Returns the routed frame: one row per (event, matched sink), with a
    `sink` string column. Events matching no sink are absent (but remain in
    the un-routed input frame for metrics — count there, not here)."""
    names = [c["name"] for c in sink_cfgs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sink names in config: {names}")
    df = df.withColumn("sinks", sinks_column(sink_cfgs))
    # explode_outer + IS NOT NULL instead of plain explode: semantically
    # identical (zero-sink events dropped), but the null-filter applies to
    # the Generate OUTPUT column, so Catalyst cannot push a sinks-derived
    # predicate below the (expensive, UDF-backed) sinks projection. With
    # plain explode, InferFiltersFromGenerate duplicates the grok UDF —
    # see session.ENGINE_CONF excludedRules.
    df = df.withColumn("sink", F.explode_outer("sinks")).filter(F.col("sink").isNotNull())
    if any(c.get("index") for c in sink_cfgs):
        df = df.withColumn("index", index_column(df, sink_cfgs))
    return df.drop("sinks")
