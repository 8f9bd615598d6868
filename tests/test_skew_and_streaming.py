"""Skew handling (SURVEY.md §4), streaming wrapper (§2.10), CLI, manifest."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyspark.sql.functions as F
import pytest

from logspark.config import canonical_config
from logspark.datagen import synth_transcripts
from logspark.operators import skew
from logspark.operators.aggregates import sink_counts
from logspark.operators.filters import apply_filter_chain
from logspark.operators.router import route
from logspark.sources import manifest as mf


@pytest.fixture(scope="module")
def routed(spark, transcripts):
    cfg = canonical_config()
    parsed = apply_filter_chain(transcripts, cfg.filter)
    return route(parsed, cfg.output).cache()


def test_hot_key_detection(spark):
    # 20k turns: the Zipf-ish mixture plants hot convs (~700 turns ≈ 3.7%)
    n = 20000
    df = spark.createDataFrame(synth_transcripts(np.arange(n), n))
    hot = skew.hot_keys(df, "conv_id", threshold=0.02, sample_fraction=None)
    assert len(hot) >= 1
    counts = dict(df.groupBy("conv_id").count().collect())
    for k in hot:
        assert counts[k] > n * 0.02


def test_salted_counts_equal_plain(spark, routed):
    plain = sink_counts(routed).orderBy("sink", "conv_id", "bucket").collect()
    salted = skew.salted_sink_counts(routed, n_salts=8).orderBy("sink", "conv_id", "bucket").collect()
    assert plain == salted


def test_salted_counts_only_hot(spark, routed):
    hot = skew.hot_keys(routed, "conv_id", threshold=0.02, sample_fraction=None)
    plain = sink_counts(routed).orderBy("sink", "conv_id", "bucket").collect()
    salted = (
        skew.salted_sink_counts(routed, n_salts=8, only_hot=hot)
        .orderBy("sink", "conv_id", "bucket")
        .collect()
    )
    assert plain == salted


def test_streaming_matches_batch(spark, tmp_path, dims):
    from logspark.streaming import stream_pipeline

    n = 3000
    pdf = synth_transcripts(np.arange(n), n)
    in_dir = str(tmp_path / "in" / "transcripts.parquet")
    # several files → several micro-batches with maxFilesPerTrigger=2
    spark.createDataFrame(pdf).repartition(6).write.parquet(in_dir)

    cfg = canonical_config()
    sink_root = str(tmp_path / "out")
    q = stream_pipeline(
        spark, cfg, in_dir, sink_root, str(tmp_path / "ckpt"),
        dims=dims, max_files_per_trigger=2, available_now=True,
    )
    q.awaitTermination(120)

    routed_stream = spark.read.parquet(f"{sink_root}/routed")
    # batch reference
    parsed = apply_filter_chain(spark.createDataFrame(pdf), cfg.filter)
    from logspark.operators.enrich import apply_enrich_chain

    parsed = apply_enrich_chain(parsed, cfg.enrich, dims)
    routed_batch = route(parsed, cfg.output)
    assert routed_stream.count() == routed_batch.count()
    a = routed_stream.groupBy("sink").count().orderBy("sink").collect()
    b = routed_batch.groupBy("sink").count().orderBy("sink").collect()
    assert a == b
    # per-sink aggregated counts equal too (appended per micro-batch → sum)
    cs = (
        spark.read.parquet(f"{sink_root}/sink_counts")
        .groupBy("sink", "conv_id", "bucket").agg(F.sum("n").alias("n"))
        .orderBy("sink", "conv_id", "bucket").collect()
    )
    cb = sink_counts(routed_batch).orderBy("sink", "conv_id", "bucket").collect()
    assert cs == cb


def test_lines_to_transcripts_codecs(spark):
    """Push-input codec stage: raw wire lines → transcripts shape."""
    from logspark.streaming import lines_to_transcripts

    lines = spark.createDataFrame(
        [
            ('{"conv_id":"c1","turn_idx":3,"role":"user","text":"hi","tool":"t","ts":"2024-02-11 09:15:32"}',),
            ("not json at all",),
        ],
        "value string",
    )
    j = {r["turn_idx"]: r for r in lines_to_transcripts(lines, "json").collect()}
    assert j[3]["conv_id"] == "c1" and j[3]["text"] == "hi"
    assert None in j and j[None]["conv_id"] is None  # malformed → null row
    p = lines_to_transcripts(lines, "plain").collect()
    assert {r["text"] for r in p} == {'{"conv_id":"c1","turn_idx":3,"role":"user","text":"hi","tool":"t","ts":"2024-02-11 09:15:32"}', "not json at all"}
    assert all(r["conv_id"] == "push" and r["turn_idx"] is not None for r in p)


def test_push_source_socket_stream(spark, tmp_path, dims):
    """S3 push input driven over a REAL TCP socket: a local server thread
    pushes JSON transcript lines (the http/redis forwarder wire shape);
    the socket source + json line codec feed the full pipeline."""
    import json as _json
    import socket
    import threading
    import time

    from logspark.streaming import stream_pipeline, stream_source

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    n_lines = 50

    def serve():
        conn, _ = srv.accept()
        with conn:
            for i in range(n_lines):
                line = _json.dumps({
                    "conv_id": f"s{i % 5}", "turn_idx": i, "role": "user",
                    "text": '{"k": %d}' % (i * 7), "tool": "push",
                    "ts": "2024-02-11 09:15:32",
                })
                conn.sendall((line + "\n").encode())
            time.sleep(8)  # keep the connection up while batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    src = stream_source(spark, {"type": "socket", "host": "127.0.0.1", "port": port, "codec": "json"})
    sink_root = str(tmp_path / "out")
    q = stream_pipeline(
        spark, canonical_config(), None, sink_root, str(tmp_path / "ckpt"),
        dims=dims, available_now=False, source=src,
    )
    try:
        deadline = time.time() + 60
        seen = 0
        while time.time() < deadline and seen < n_lines:
            time.sleep(2)
            try:
                seen = spark.read.parquet(f"{sink_root}/routed").count()
            except Exception:
                seen = 0
    finally:
        q.stop()
    srv.close()
    routed = spark.read.parquet(f"{sink_root}/routed")
    rows = {r["turn_idx"]: r for r in routed.collect()}
    assert len(rows) == n_lines
    assert all(r["sink"] == "raw" and r["k"] == i * 7 for i, r in rows.items())


def test_push_source_rate_stream(spark, tmp_path, dims):
    """S3 landing spot: synthetic push traffic (rate source → json codec →
    transcripts) through the full pipeline; the socket source shares this
    exact code path with a network peer instead."""
    import time

    from logspark.streaming import stream_pipeline, stream_source

    src = stream_source(spark, {"type": "rate", "rows_per_second": 2000})
    sink_root = str(tmp_path / "out")
    q = stream_pipeline(
        spark, canonical_config(), None, sink_root, str(tmp_path / "ckpt"),
        dims=dims, available_now=False, source=src,
    )
    # processAllAvailable() never returns here: the rate source always has
    # new offsets, and one micro-batch can take longer than a second. Poll
    # the progress log until one batch that carried rows has committed.
    deadline = time.monotonic() + 120
    try:
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            assert q.exception() is None, q.exception()
            assert time.monotonic() < deadline, "no non-empty micro-batch within 120 s"
            time.sleep(0.5)
    finally:
        q.stop()
    routed = spark.read.parquet(f"{sink_root}/routed")
    assert routed.count() > 0
    # '{"k": N}' push payloads: grok (tool-log/apache) fails → raw sink,
    # json codec extracts k — exactly the flagship mixed-codec semantics
    assert {r["sink"] for r in routed.select("sink").distinct().collect()} == {"raw"}
    assert routed.filter(F.col("k").isNull()).count() == 0


def test_kafka_source_config_shape(spark):
    """S3 Kafka swap (VERDICT r2 missing #5): stream_source({"type":
    "kafka", ...}) must build the full kafka -> value-cast ->
    lines_to_transcripts plan with the documented config shape. Where the
    spark-sql-kafka connector jar is on the classpath the unresolved
    streaming DataFrame must carry the transcripts schema; in this sandbox
    (no jar) the build fails ONLY with the missing-data-source error —
    any other failure (bad option name, bad cast, codec error) is real."""
    import pytest as _pytest

    from logspark.streaming.sources import TRANSCRIPTS_DDL, stream_source

    cfg = {
        "type": "kafka",
        "bootstrap_servers": "broker-1:9092,broker-2:9092",
        "topic": "transcript-turns",
        "codec": "json",
        "starting_offsets": "latest",
        "max_offsets_per_trigger": 250_000,
    }
    try:
        df = stream_source(spark, cfg)
    except Exception as e:  # noqa: BLE001 - classifying the failure is the test
        msg = str(e)
        if "Failed to find data source: kafka" in msg or "KAFKA" in msg.upper():
            _pytest.skip("spark-sql-kafka connector jar not on classpath")
        raise
    assert df.isStreaming
    from pyspark.sql.types import _parse_datatype_string

    assert df.schema == _parse_datatype_string(TRANSCRIPTS_DDL)


def test_streaming_batch_replay_is_idempotent(spark, tmp_path, dims):
    """foreachBatch is at-least-once: after a mid-batch crash Spark re-runs
    the same batch_id. Replaying a batch must leave sink contents and counts
    IDENTICAL (dynamic-partition overwrite keyed on batch_id), and must not
    disturb other batches."""
    from logspark.streaming import make_batch_processor

    n = 1200
    pdf = synth_transcripts(np.arange(n), n)
    df = spark.createDataFrame(pdf)
    b0, b1 = df.filter(F.col("turn_idx") % 2 == 0), df.filter(F.col("turn_idx") % 2 == 1)
    sink_root = str(tmp_path / "out")
    process = make_batch_processor(canonical_config(), sink_root, dims)

    process(b0, 0)
    process(b1, 1)
    routed_once = spark.read.parquet(f"{sink_root}/routed")
    counts_once = spark.read.parquet(f"{sink_root}/sink_counts")
    snap_rows = sorted(
        (r["batch_id"], r["sink"], r["conv_id"], r["turn_idx"]) for r in routed_once.collect()
    )
    snap_counts = sorted(map(tuple, counts_once.collect()))

    process(b1, 1)  # simulated post-crash replay of batch 1
    routed_again = spark.read.parquet(f"{sink_root}/routed")
    counts_again = spark.read.parquet(f"{sink_root}/sink_counts")
    assert sorted(
        (r["batch_id"], r["sink"], r["conv_id"], r["turn_idx"]) for r in routed_again.collect()
    ) == snap_rows
    assert sorted(map(tuple, counts_again.collect())) == snap_counts


def test_streaming_empty_batch_adds_nothing(spark, tmp_path, dims):
    """An empty micro-batch writes readable empty sinks: the processor
    succeeds and the routed and sink_counts totals are unchanged."""
    from logspark.streaming import make_batch_processor

    df = spark.createDataFrame(synth_transcripts(np.arange(600), 600))
    sink_root = str(tmp_path / "out")
    process = make_batch_processor(canonical_config(), sink_root, dims)

    process(df, 0)
    n_routed = spark.read.parquet(f"{sink_root}/routed").count()
    n_counts = spark.read.parquet(f"{sink_root}/sink_counts").count()
    assert n_routed > 0 and n_counts > 0

    process(df.limit(0), 1)
    assert spark.read.parquet(f"{sink_root}/routed").count() == n_routed
    assert spark.read.parquet(f"{sink_root}/sink_counts").count() == n_counts


def test_manifest_roundtrip(tmp_path):
    root = str(tmp_path)
    m = mf.load_manifest(root)
    assert m.runs == []
    mf.commit_run(root, mf.RunRecord(run_id="a", input_files=["f1", "f2"], sink_counts={"x": 5}))
    mf.commit_run(root, mf.RunRecord(run_id="b", input_files=["f3"]))
    m = mf.load_manifest(root)
    assert m.processed_files == {"f1", "f2", "f3"}
    assert mf.pending_files(["f1", "f4"], m) == ["f4"]
    # same run_id replaces, not duplicates
    mf.commit_run(root, mf.RunRecord(run_id="b", input_files=["f3", "f5"]))
    m = mf.load_manifest(root)
    assert len(m.runs) == 2 and m.processed_files == {"f1", "f2", "f3", "f5"}


def test_cli_end_to_end(tmp_path):
    n = 1500
    pdf = synth_transcripts(np.arange(n), n)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pdf.to_parquet(
        in_dir / "transcripts.parquet",
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    cfg_path = tmp_path / "pipeline.json"
    cfg = canonical_config()
    cfg_path.write_text(json.dumps(
        {"input": cfg.input, "filter": cfg.filter, "enrich": cfg.enrich,
         "output": cfg.output, "aggregate": cfg.aggregate}
    ))
    env = dict(os.environ, PYTHONPATH="/root/repo", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "logspark", "--config", str(cfg_path),
         "--input-dir", str(in_dir), "--sink-root", str(tmp_path / "out"),
         "--run-id", "cli1"],
        capture_output=True, text=True, env=env, cwd="/root/repo", timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["run_id"] == "cli1"
    assert out["sink_rows"]["parsed"] > 0 and out["sink_rows"]["raw"] > 0
    assert out["metrics"]["rows_in"] == n


def test_cli_stream_reads_table_without_parquet_suffix(spark, tmp_path):
    """`--stream` resolves the input table the way batch runs and
    `--watch` do: a table stored as `<input_dir>/transcripts/` (no
    `.parquet` suffix) streams through and lands in the routed sinks."""
    n = 600
    tbl = tmp_path / "in" / "transcripts"
    tbl.mkdir(parents=True)
    synth_transcripts(np.arange(n), n).to_parquet(
        tbl / "part-0.parquet", coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    cfg_path = tmp_path / "pipeline.json"
    cfg = canonical_config()
    cfg_path.write_text(json.dumps(
        {"input": cfg.input, "filter": cfg.filter, "enrich": cfg.enrich,
         "output": cfg.output, "aggregate": cfg.aggregate}
    ))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "logspark", "--config", str(cfg_path),
         "--input-dir", str(tmp_path / "in"), "--sink-root", str(tmp_path / "out"),
         "--stream"],
        capture_output=True, text=True, env=env, cwd=root, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"mode": "stream", "status": "drained"}
    routed = spark.read.parquet(str(tmp_path / "out" / "routed"))
    assert {r["sink"] for r in routed.select("sink").distinct().collect()} == {"parsed", "errors", "raw"}
    assert routed.filter(F.col("sink") != "errors").count() == n


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Native session_window sessionization over a stream == the batch
    lag+running-sum form (operators/aggregates.sessionize) on the same
    data — same session boundaries, turn counts, and start/end times.
    The one documented divergence (gap exactly == threshold) is asserted
    absent from the fixture first."""
    from logspark.datagen import synth_transcripts
    from logspark.operators.aggregates import sessionize
    from logspark.streaming import streaming_sessionize

    n = 4000
    pdf = synth_transcripts(np.arange(n), n)
    df = spark.createDataFrame(pdf)

    # no knife-edge gaps (== 1800 s) in the fixture
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gaps = df.withColumn(
        "gap", F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    )
    assert gaps.filter(F.col("gap") == 1800).count() == 0

    in_dir = str(tmp_path / "in")
    df.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    sess = streaming_sessionize(stream, gap_minutes=30)
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_sw")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["conv_id"], r["session_start"], r["session_end"], r["n_turns"])
        for r in spark.sql("SELECT * FROM sess_sw").collect()
    }
    want = {
        (r["conv_id"], r["session_start"], r["session_end"], r["n_turns"])
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: the first micro-batch to
    present a fingerprint emits exactly one keeper (min doc_id in that
    batch); re-arrivals in LATER batches — across a query restart on the
    same checkpoint, i.e. through the state store — emit nothing."""
    import time

    from logspark.streaming import streaming_exact_dedup

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    ddl = "doc_id bigint, text string"

    def run_phase(rows, fname):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
            str(in_dir / fname)
        )
        stream = spark.readStream.schema(ddl).parquet(str(in_dir / "*"))
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(0.5)
        return {r["keeper"]: r["fingerprint"] for r in spark.read.parquet(out_dir).collect()}

    # phase 1: "alpha" duplicated within the batch -> one keeper, min id
    got1 = run_phase(
        [(10, "alpha  text"), (3, "Alpha text"), (7, "beta text")], "f1"
    )
    assert set(got1) == {3, 7}

    # phase 2 (restart, same checkpoint): old fingerprints re-arrive with
    # smaller ids -> STILL dropped (state survived); only gamma is new
    got2 = run_phase(
        [(1, "alpha text"), (2, "beta  text"), (5, "gamma text")], "f2"
    )
    assert set(got2) == {3, 7, 5}


def test_streaming_sink_counts_watermark_semantics(spark, tmp_path):
    """Event-time windowed per-sink counts with late data (§2.10): rows
    within the watermark land in their event-time bucket across query
    RESTARTS (state store carries open windows), rows later than the
    watermark are dropped, and append mode emits each finalized bucket
    exactly once. Final emitted set == batch sink_counts over exactly the
    non-dropped rows in finalized buckets."""
    import time
    from datetime import datetime

    from logspark.streaming import streaming_sink_counts

    ddl = "sink string, conv_id string, ts timestamp"
    ts = lambda h, m: datetime(2024, 3, 1, h, m)
    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()

    def run_phase(rows, fname):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
            str(in_dir / fname)
        )
        stream = spark.readStream.schema(ddl).parquet(str(in_dir / "*"))
        q = (
            streaming_sink_counts(stream, watermark="2 hours", bucket_minutes=60)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(0.5)
        return {
            (r["sink"], r["conv_id"], r["bucket"].hour, r["n"])
            for r in spark.read.parquet(out_dir).collect()
        }

    p1 = [
        ("parsed", "c1", ts(1, 10)),
        ("parsed", "c1", ts(1, 20)),
        ("raw", "c2", ts(2, 10)),
        ("parsed", "c1", ts(5, 30)),  # watermark -> 03:30
    ]
    got1 = run_phase(p1, "f1")
    # buckets ending before the 03:30 watermark are finalized
    assert got1 >= {("parsed", "c1", 1, 2), ("raw", "c2", 2, 1)}
    assert not any(b == 5 for _, _, b, _ in got1)  # 05:00 bucket still open

    p2 = [
        ("parsed", "c1", ts(1, 40)),  # LATE past watermark -> dropped
        ("parsed", "c3", ts(2, 30)),  # LATE past watermark -> dropped
        ("raw", "c2", ts(4, 45)),     # on time (ahead of watermark)
        ("parsed", "c1", ts(9, 0)),   # watermark -> 07:00, finalizes 04/05
    ]
    got2 = run_phase(p2, "f2")  # restart on the same checkpoint

    p3 = [("raw", "c2", ts(23, 0))]  # watermark -> 21:00, finalizes 09
    got3 = run_phase(p3, "f3")
    expected = {
        ("parsed", "c1", 1, 2),
        ("raw", "c2", 2, 1),
        ("raw", "c2", 4, 1),
        ("parsed", "c1", 5, 1),   # phase-1 row finalized after restart
        ("parsed", "c1", 9, 1),
    }
    assert got1 <= got2 <= got3  # append only grows
    assert got3 == expected
    # the late rows are nowhere: c3 never appears, and bucket 1 stayed at 2
    assert not any(c == "c3" for _, c, _, _ in got3)


def test_dedup_agent_and_streaming_agree_on_verified_pairs(spark, tmp_path):
    """VERDICT r4 #9: the two continuous-dedup deployments converge. The
    same corpus, ingested file-by-file, through (a) the batch dedup agent
    (`watch_dedup`: manifest ticks + SignatureStore) and (b) the
    streaming candidate path (`streaming_near_dup_candidates` + a batch
    Jaccard verify over the candidate set) must yield the IDENTICAL
    verified pair set.

    When to choose which: the batch agent owns poll-interval/cron-style
    ingestion — durable parquet state, per-file crash replay, no running
    query to babysit; the streaming path owns push/low-latency ingestion
    — pairs surface within a micro-batch, state lives in the checkpoint.
    Candidates are identical by construction (same signatures, same
    banding), so the verified sets match whenever the same verify
    threshold is applied — this test pins that equivalence."""
    import time

    from logspark.operators import dedup
    from logspark.plans import dedup_agent
    from logspark.sources.tableio import ParquetIO
    from logspark.streaming import streaming_near_dup_candidates

    ddl = "doc_id bigint, text string"
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    files = [
        ("f1", [(1, base), (2, base + " today"),
                (3, "completely different words entirely unrelated content here")]),
        ("f2", [(4, base + " yesterday"),
                (5, "completely different words entirely unrelated content here now")]),
        ("f3", [(6, base + " tomorrow morning"),
                (7, "fresh text sharing nothing with anything that came before")]),
    ]
    in_dir = tmp_path / "in" / "docs.parquet"
    in_dir.mkdir(parents=True)
    threshold = 0.5

    # (a) batch agent: one tick per file arrival
    io = ParquetIO(str(tmp_path / "in"))
    sink = str(tmp_path / "agent")
    import pandas as pd

    for fname, rows in files:
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            in_dir / f"{fname}.parquet"
        )
        dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=threshold)
    batch_pairs = {
        (r["a"], r["b"]) for r in dedup_agent.all_pairs(spark, sink).collect()
    }

    # (b) streaming candidates over the same files, then batch verify
    out_dir, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    stream = spark.readStream.schema(ddl).parquet(str(in_dir / "*"))
    q = (
        streaming_near_dup_candidates(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.5)
    cand = spark.read.parquet(out_dir).dropDuplicates(["a", "b"])
    corpus = spark.createDataFrame([r for _, rows in files for r in rows], ddl)
    stream_pairs = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard(
            corpus, threshold=threshold, candidates=cand
        ).collect()
    }
    assert batch_pairs == stream_pairs and batch_pairs  # non-vacuous


def test_streaming_near_dup_candidates_equals_batch_union(spark, tmp_path):
    """Streaming MinHash/LSH near-dup candidates (VERDICT r3 #7): two
    micro-batch phases — the second through a query RESTART on the same
    checkpoint, so the bucket state crosses the state store — and the
    distinct streamed pair set must equal the union of the batch
    incremental path's per-run pairs, which itself equals the one-shot
    whole-corpus lsh_candidates set."""
    import time

    from logspark.operators import dedup
    from logspark.streaming import streaming_near_dup_candidates

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()
    ddl = "doc_id bigint, text string"

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    batch1 = [
        (1, base),
        (2, base + " today"),                       # near-dup of 1
        (3, "completely different words entirely unrelated content here"),
        (4, "another separate document with its own distinct vocabulary"),
    ]
    batch2 = [
        (5, base + " yesterday"),                   # near-dup of 1/2 — CROSS-run pair
        (6, "completely different words entirely unrelated content here now"),  # near-dup of 3
        (7, "fresh text sharing nothing with anything that came before"),
    ]

    def run_phase(rows, fname):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
            str(in_dir / fname)
        )
        stream = spark.readStream.schema(ddl).parquet(str(in_dir / "*"))
        q = (
            streaming_near_dup_candidates(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(0.5)
        return {(r["a"], r["b"]) for r in spark.read.parquet(out_dir).collect()}

    got1 = run_phase(batch1, "f1")
    got2 = run_phase(batch2, "f2")  # restart: same checkpoint, new query
    assert got1 <= got2  # append sink only grows

    # batch reference 1: one-shot whole-corpus candidates
    corpus = spark.createDataFrame(batch1 + batch2, ddl)
    whole = {
        (r["a"], r["b"])
        for r in dedup.lsh_candidates(dedup.minhash_signatures(corpus)).collect()
    }
    assert got2 == whole and whole  # non-vacuous

    # batch reference 2: the incremental (SignatureStore) path, run-by-run
    store = dedup.SignatureStore(str(tmp_path / "store"))
    inc = set()
    for rid, rows in (("r1", batch1), ("r2", batch2)):
        run_df = spark.createDataFrame(rows, ddl)
        pairs = dedup.incremental_near_dup_pairs(
            store, run_df, corpus, run_id=rid, threshold=0.0
        )
        inc |= {(r["a"], r["b"]) for r in pairs.select("a", "b").collect()}
    assert got2 == inc

    # cross-run pair really exercised: (1,5) or (2,5) spans the restart
    assert any(p in got2 for p in [(1, 5), (2, 5)])

    # the full streaming story: streamed CANDIDATES verified by the batch
    # Jaccard step over the corpus table (the stored member's text is no
    # longer in the stream) == the incremental path's VERIFIED pairs
    streamed = spark.createDataFrame(sorted(got2), "a bigint, b bigint")
    verified = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard(corpus, candidates=streamed, threshold=0.5).collect()
    }
    inc_half = set()
    store2 = dedup.SignatureStore(str(tmp_path / "store2"))
    for rid, rows in (("r1", batch1), ("r2", batch2)):
        run_df = spark.createDataFrame(rows, ddl)
        pairs = dedup.incremental_near_dup_pairs(
            store2, run_df, corpus, run_id=rid, threshold=0.5
        )
        inc_half |= {(r["a"], r["b"]) for r in pairs.select("a", "b").collect()}
    assert verified == inc_half and verified <= got2 and verified


def test_streaming_near_dup_cap_poisons_degenerate_bucket(spark, tmp_path):
    """max_bucket in the streaming path: a bucket that exceeds the cap
    emits nothing and stays capped in later batches (state drops to a
    boolean) — the continuous form of dedup.cap_buckets."""
    import time

    from logspark.streaming import streaming_near_dup_candidates

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()
    ddl = "doc_id bigint, text string"
    boiler = "identical boilerplate text repeated across every document here"

    def run_phase(rows, fname):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
            str(in_dir / fname)
        )
        stream = spark.readStream.schema(ddl).parquet(str(in_dir / "*"))
        q = (
            streaming_near_dup_candidates(stream, max_bucket=3)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(0.5)
        return {(r["a"], r["b"]) for r in spark.read.parquet(out_dir).collect()}

    # 5 identical docs share every bucket → every bucket over the cap of 3
    got1 = run_phase([(i, boiler) for i in range(1, 6)], "f1")
    assert got1 == set()
    # a later small batch into the poisoned buckets still emits nothing
    got2 = run_phase([(9, boiler)], "f2")
    assert got2 == set()


def test_streaming_embedding_near_dups_equals_batch(spark, tmp_path):
    """Streaming IVF near-dups (the batch default's streaming form): two
    micro-batch phases through a RESTART, fixed centroids; the distinct
    streamed (a, b, sim) set must equal batch ivf_near_dups with the same
    centroids, and a cross-batch pair must be present."""
    import time

    import numpy as np

    from logspark.operators import similarity
    from logspark.streaming import streaming_embedding_near_dups

    rng = np.random.default_rng(5)
    base = rng.standard_normal(16)
    def nd(eps, seed):  # near-dup of `base`
        return (base + eps * np.random.default_rng(seed).standard_normal(16)).tolist()
    b1 = [(1, base.tolist()), (2, nd(0.05, 1)), (3, rng.standard_normal(16).tolist()),
          (4, rng.standard_normal(16).tolist())]
    b2 = [(5, nd(0.05, 2)), (6, rng.standard_normal(16).tolist())]
    ddl = "vec_id bigint, embedding array<double>"
    corpus = spark.createDataFrame(b1 + b2, ddl)
    cents = similarity.head_centroids(corpus, 3)
    in_dir = tmp_path / "in"; in_dir.mkdir()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_phase(rows, fname):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
            str(in_dir / fname)
        )
        stream = spark.readStream.schema(ddl).parquet(str(in_dir / "*"))
        q = (
            streaming_embedding_near_dups(stream, cents, threshold=0.9, nprobe=2)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        time.sleep(0.5)
        return {(r["a"], r["b"], r["sim"]) for r in spark.read.parquet(out_dir).collect()}

    got1 = run_phase(b1, "f1")
    got2 = run_phase(b2, "f2")  # restart on the same checkpoint
    assert got1 <= got2
    batch = {
        (r["a"], r["b"], r["sim"])
        for r in similarity.ivf_near_dups(
            corpus, threshold=0.9, nprobe=2, centroids=cents
        ).collect()
    }
    assert got2 == batch and batch  # non-vacuous
    assert any(a in (1, 2) and b == 5 for a, b, _ in got2)  # crosses the restart
