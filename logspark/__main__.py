"""CLI — the spark-submit entry point, mirroring the reference agent's
`logagent -config pipeline.json` invocation:

    spark-submit --py-files logspark.zip -m logspark \
        --config pipeline.json --input-dir /data/in --sink-root /data/out
    # or locally:
    python -m logspark --config pipeline.json --input-dir ... --sink-root ...

Runs one resume-aware batch of the configured pipeline (incremental over
the manifest), or --stream for the continuous foreachBatch mode.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logspark")
    ap.add_argument(
        "--config", default=None,
        help="3-section pipeline config (json/yaml); required except with --dedup-table",
    )
    ap.add_argument("--input-dir", required=True, help="directory of input tables")
    ap.add_argument("--sink-root", required=True, help="output root (sinks + manifest)")
    ap.add_argument(
        "--run-id", default=None,
        help="default: 'w-' + md5 of the pending files, so a retry reuses the id",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--full", action="store_true", help="ignore manifest; process everything")
    ap.add_argument("--stream", action="store_true", help="continuous mode (foreachBatch)")
    ap.add_argument(
        "--watch", type=float, default=None, metavar="SECONDS",
        help="continuous batch-agent mode: poll for new input every N seconds, "
        "re-loading the config each tick (hot reload)",
    )
    ap.add_argument(
        "--dedup-table", default=None, metavar="TABLE",
        help="run one continuous-ingestion dedup tick over TABLE "
        "(manifest-pending files vs the sink_root's SignatureStore) "
        "instead of the parse-route pipeline",
    )
    ap.add_argument("--dedup-threshold", type=float, default=0.5)
    args = ap.parse_args(argv)

    from logspark.config import PipelineConfig
    from logspark.datagen import role_map_pdf, tool_catalog_pdf
    from logspark.queries import ensure_workers
    from logspark.session import get_spark
    from logspark.sources.tableio import ParquetIO

    spark = get_spark(master=args.master, app_name="logspark-agent")
    ensure_workers(spark)

    if args.dedup_table is not None:
        from logspark.plans.dedup_agent import dedup_tick

        res = dedup_tick(
            spark,
            ParquetIO(args.input_dir),
            args.dedup_table,
            args.sink_root,
            threshold=args.dedup_threshold,
        )
        print(json.dumps({"mode": "dedup", **res}))
        return 0

    if args.config is None:
        ap.error("--config is required (except with --dedup-table)")
    cfg = PipelineConfig.load(args.config)
    dims = {
        "tool_catalog": spark.createDataFrame(tool_catalog_pdf()),
        "role_map": spark.createDataFrame(role_map_pdf()),
    }

    if args.stream:
        from logspark.streaming import stream_pipeline

        table = cfg.input[0]["table"]
        q = stream_pipeline(
            spark,
            cfg,
            input_dir=f"{args.input_dir}/{table}.parquet",
            sink_root=args.sink_root,
            checkpoint_dir=f"{args.sink_root}/_checkpoint",
            dims=dims,
        )
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "status": "drained"}))
        return 0

    if args.watch is not None:
        from logspark.plans.pipeline import watch

        results = watch(
            spark, args.config, ParquetIO(args.input_dir), args.sink_root,
            dims=dims, interval_s=args.watch,
        )
        print(json.dumps({"mode": "watch", "runs": len(results)}))
        return 0

    from logspark.plans.pipeline import run

    res = run(
        spark,
        cfg,
        ParquetIO(args.input_dir),
        args.sink_root,
        run_id=args.run_id,
        dims=dims,
        incremental=not args.full,
    )
    print(json.dumps({"run_id": res.run_id, "sink_rows": res.sink_rows, "metrics": res.metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
