"""Per-sink aggregates (SURVEY.md §2.4 row A1).

BASELINE.json: "per-sink groupBy aggregates over conv_id and time buckets
of ts" with counts identical to the reference. Spark's hash aggregate does
partial (map-side) + final aggregation automatically, so the shuffle moves
only (sink, conv_id, bucket, partial_count) rows — tiny relative to parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink_counts(routed: DataFrame, bucket: str = "hour") -> DataFrame:
    """(sink, conv_id, time-bucket) → count. `bucket` is any date_trunc unit."""
    return (
        routed.groupBy(
            "sink",
            "conv_id",
            F.date_trunc(bucket, F.col("ts")).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    key: str = "conv_id",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Gap-based sessionization: split each conversation into sessions
    wherever consecutive turns are more than `gap_minutes` apart. Returns
    one row per (key, session_idx) with n_turns / session_start /
    session_end. The batch form of a session window (streaming would use
    `F.session_window(ts, gap)`); expressed as lag + running sum so one
    conv_id shuffle does everything — and a conv_id-bucketed layout
    (sources.write_bucketed) makes even that shuffle free."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    gap_s = gap_minutes * 60
    # NTZ timestamps refuse a direct long cast; the session tz is UTC, so
    # the timestamp hop is value-preserving (epoch seconds, floored)
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    new_sess = epoch - F.lag(epoch).over(w) > gap_s
    sess = F.sum(F.coalesce(new_sess.cast("long"), F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("session_idx", sess)
        .groupBy(key, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )


def approx_distinct(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    rsd: float = 0.02,
) -> DataFrame:
    """Scale-true distinct counting: HyperLogLog++ via
    `approx_count_distinct` — one narrow pass with map-side partial
    sketches, merged per group key. The exact `countDistinct` form (gated
    as `distinct_users`) shuffles EVERY (group, id) pair, which at 10^12
    turns is a shuffle the size of the fact table; the sketch form moves
    a fixed ~1.5/rsd² bytes per (partition, group). Exactness is the
    oracle's job; this is what production runs. Emits `n_approx`.

    Sketches are engine-specific (Spark's HLL++ ≠ DuckDB's), so this is
    pytest-gated on a relative-error bound against the exact count rather
    than hash-compared."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(distinct_col, rsd=rsd).alias("n_approx")
    )


def approx_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probabilities: list[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Latency-percentile style aggregate: `percentile_approx` (the
    Greenwald-Khanna sketch) per group — the p50/p95/p99 panel every
    telemetry pipeline ends in. One pass, map-side partial sketches of
    bounded size (`accuracy` trades memory for error: rank error ≤
    1/accuracy), merged per group; the exact percentile would need a
    per-group sort of all values. Emits one `q_<pct>` column per
    requested probability."""
    probs = list(probabilities)
    qs = F.percentile_approx(
        F.col(value_col), F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
    )
    out = df.groupBy(*group_cols).agg(qs.alias("_qs"))
    for i, p in enumerate(probs):
        out = out.withColumn(f"q_{str(p).replace('.', '_')}", F.col("_qs")[i])
    return out.drop("_qs")


def conversation_examples(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    target_role: str = "assistant",
    max_context_turns: int = 8,
    max_context_tokens: int | None = None,
) -> DataFrame:
    """Transcripts → supervised training examples: for every `target_role`
    turn, (conv_id, turn_idx, context, target) where context is the last
    `max_context_turns` PRIOR turns rendered as 'role: text' lines — the
    step that turns a conversation table into SFT rows.

    `max_context_tokens` additionally enforces a TOKEN budget (whitespace
    tokens over the rendered lines): whole turns are dropped from the
    OLDEST side until the kept contiguous suffix fits — a turn is never
    split, and a lone over-budget newest turn drops the example (empty
    context). Implemented as one native aggregate fold over the reversed
    context (accumulator = (tokens_used, turns_kept, stopped)): once a
    turn does not fit, the fold stops taking — the kept set is a true
    suffix, not a best-fit subset.

    Shape: one window keyed by conversation, collect_list over the
    BOUNDED frame rowsBetween(-k, -1) — the frame itself is the last-k
    cut, so per-turn work is O(k), O(T·k) per conversation. (The
    unbounded-preceding + slice form computes the same result but
    materializes every prefix — O(T²) per conversation, a scale-killer
    on long agent transcripts; VERDICT r4 #1.) A conv_id-bucketed
    layout (sources.write_bucketed) makes the shuffle free. Turns with
    no prior context are dropped (no empty-context examples)."""
    from pyspark.sql.window import Window

    k = max_context_turns
    w = Window.partitionBy(conv_col).orderBy(turn_col).rowsBetween(-k, -1)
    line = F.concat_ws(": ", F.col(role_col), F.col(text_col))
    last_k = F.collect_list(F.struct(F.col(turn_col).alias("t"), line.alias("l"))).over(w)
    if max_context_tokens is not None:
        budget = F.lit(max_context_tokens).cast("long")

        def _take(acc, el):
            t = F.size(F.split(el["l"], " ")).cast("long")
            fits = (~acc["stopped"]) & (acc["toks"] + t <= budget)
            return F.struct(
                F.when(fits, acc["toks"] + t).otherwise(acc["toks"]).alias("toks"),
                F.when(fits, acc["keep"] + 1).otherwise(acc["keep"]).alias("keep"),
                (~fits).alias("stopped"),
            )

        init = F.struct(
            F.lit(0).cast("long").alias("toks"),
            F.lit(0).alias("keep"),
            F.lit(False).alias("stopped"),
        )
        n_keep = F.aggregate(F.reverse(last_k), init, _take)["keep"]
        # slice(x, 1, 0) is the typed empty array (n_keep can be 0)
        last_k = F.when(n_keep > 0, F.slice(last_k, -n_keep, n_keep)).otherwise(
            F.slice(last_k, 1, 0)
        )
    return (
        df.withColumn("_ctx", last_k)
        .filter((F.col(role_col) == target_role) & (F.size("_ctx") > 0))
        .select(
            conv_col,
            turn_col,
            F.concat_ws("\n", F.transform(F.col("_ctx"), lambda s: s["l"])).alias("context"),
            F.col(text_col).alias("target"),
        )
    )
