"""logspark benchmark: one named workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each invocation starts a fresh SparkSession on
local[<cores>] (cores = this process's CPU affinity), stages the seed's
inputs under .bench_work/, warms up untimed, then runs one closed-loop client
for --seconds of summed operation time. Every operation's output is checked
afterwards. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1 (see BENCHMARK.json for names, units and definitions).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import logspark the way spark-submit --py-files would."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def end_to_end(wl, setup_s: float, peak_rss_mb: float) -> dict:
    s = wl.summary()
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_s_p50": {"value": s["op_s_p50"], "unit": "s"},
        "items_per_s": {"value": s["items_per_s"], "unit": "items/s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logspark", "plans", "pipeline.py")):
        print(f"perfbench: no logspark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work)

    from perfbench import layers
    from perfbench.env import RssSampler, StatusProbe, box_cores, now, start_spark, stop_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    rss = RssSampler().start()
    cores = box_cores()
    wl = WORKLOADS[args.workload](work, args.seed, cores, bool(args.trace))
    phases = {}
    # Input generation is pure Python: it runs while the JVM starts.
    with ThreadPoolExecutor(1) as pool:
        generated = pool.submit(wl.generate)
        spark = start_spark(work, cores, f"perfbench-{args.workload}")
        phases["session"] = now() - T_START
        generated.result()
    phases["generate_wait"] = now() - T_START - sum(phases.values())
    try:
        wl.attach(spark)
        wl.warm()
        setup_s = now() - T_START
        phases["warm"] = setup_s - sum(phases.values())
        if args.trace:
            wl.probe = StatusProbe(spark)
        busy = 0.0
        t_loop = now()
        while busy < args.seconds and not wl.exhausted() and now() - t_loop < 3 * args.seconds:
            busy += wl.run_op().seconds
        wl.probe = None
        phases["loop"] = now() - t_loop
        wl.verify()
        phases["verify"] = now() - T_START - sum(phases.values())
        extra = wl.traced_extras() if args.trace else {}
        phases["trace_extras"] = now() - T_START - sum(phases.values())
    finally:
        from pyspark.sql import SparkSession

        peak = rss.stop()
        stop_spark(SparkSession.getActiveSession() or spark)
    shutil.rmtree(work, ignore_errors=True)

    attempted = len(wl.ops)
    failed = sum(not o.ok for o in wl.ops)
    if args.trace:
        metrics = layers.per_layer(wl, extra)
    else:
        metrics = end_to_end(wl, setup_s, peak)
        for line in layers.named_end_to_end(wl, setup_s, peak):
            print(line)
    phases["stop"] = now() - T_START - sum(phases.values())
    print(f"# {args.workload} seed={args.seed} cores={cores} warm_s={[round(t, 2) for t in wl.warm_s]} "
          f"op_s={[round(o.seconds, 2) for o in wl.ops]} failed={failed}")
    print("# phases_s " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    print("# peak_rss_mb " + " ".join(f"{n}={kb / 1024:.0f}" for n, kb in rss.peak_parts if kb))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
