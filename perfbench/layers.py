"""Per-layer metrics of a traced run, and the named end-to-end lines.

Every traced run reports the full per-layer list of BENCHMARK.json. A layer
that the workload does not execute reads 0 (no self time, no rows, no bytes).
"""

from __future__ import annotations

from perfbench.workloads import median

# name → unit; the order is BENCHMARK.json's per_layer order
PER_LAYER: dict[str, str] = {
    "scan.self_s": "s",
    "filters.grok.self_s": "s",
    "filters.grok.parsed_frac": "ratio",
    "filters.json.self_s": "s",
    "filters.patch.self_s": "s",
    "enrich.self_s": "s",
    "router.self_s": "s",
    "router.fanout": "ratio",
    "pipeline.write_s": "s",
    "pipeline.write_bytes": "B",
    "pipeline.files_written": "count",
    "aggregates.counts_s": "s",
    "aggregates.shuffle_bytes": "B",
    "tick.spark_s": "s",
    "tick.driver_s": "s",
    "tick.tasks": "count",
    "tick.core_util": "ratio",
    "manifest.load_s": "s",
    "manifest.bytes": "B",
    "dedup.minhash.self_s": "s",
    "dedup.band.self_s": "s",
    "dedup.verify.self_s": "s",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.planted_recall": "ratio",
    "sigstore.append_s": "s",
    "sigstore.load_s": "s",
    "sigstore.runs": "count",
    "sigstore.bytes": "B",
    "spark.python_eval_s": "s",
    "spark.spill_bytes": "B",
    "spark.tasks_failed": "count",
    "scaling.eff_1_4": "ratio",
    "trace.op_s_p50": "s",
    "trace.probe_s": "s",
}


def per_layer(wl, extra: dict[str, float]) -> dict:
    got = {**wl.layers(), **extra}
    got["trace.op_s_p50"] = median(o.seconds for o in wl.ops)
    return {name: {"value": float(got.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER.items()}


# the end-to-end metrics under the workload-specific names they stand for
NAMED = {
    "parse_route_batch": [("batch_s_p50", "op_s_p50", "s"), ("batch_turns_per_s", "items_per_s", "turns/s")],
    "dedup_ticks": [("dedup_tick_s_p50", "op_s_p50", "s"), ("dedup_docs_per_s", "items_per_s", "docs/s")],
}


def named_end_to_end(wl, setup_s: float, peak_rss_mb: float) -> list[str]:
    s = wl.summary()
    n_ops = len(wl.ops)
    failed = sum(not o.ok for o in wl.ops)
    lines = [f"{name} = {s[key]:.6g} {unit}" for name, key, unit in NAMED[wl.name]]
    lines += [
        f"setup_s = {setup_s:.6g} s",
        f"peak_rss_mb = {peak_rss_mb:.6g} MB",
        f"failed_frac = {failed / max(1, n_ops):.6g} ratio ({failed}/{n_ops} ops)",
    ]
    return lines
