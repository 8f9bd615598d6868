"""End-to-end pipeline golden tests (SURVEY.md §5.2 layer 2, FIXTURES.md §A3/§A4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logspark.config import PipelineConfig, canonical_config
from logspark.plans import pipeline


@pytest.fixture(scope="module")
def run(spark, transcripts, dims):
    bp = pipeline.build(canonical_config(), transcripts, dims)
    routed = bp.routed.cache()
    routed.count()
    return bp, routed


def test_every_event_routed_or_dropped_consistently(spark, transcripts, run):
    bp, routed = run
    n_in = transcripts.count()
    parsed_rows = bp.parsed.count()
    assert parsed_rows == n_in  # filter chain is 1:1 — no event lost before routing

    # routed rows = sum over sinks of per-sink matches (duplicates allowed)
    per_sink = {r["sink"]: r["n"] for r in routed.groupBy("sink").agg(F.count("*").alias("n")).collect()}
    assert set(per_sink) == {"parsed", "errors", "raw"}
    # grok failure rows == raw sink rows; parsed-tag rows == parsed sink rows
    failures = bp.parsed.filter(F.array_contains("tags", "_grokparsefailure")).count()
    assert per_sink["raw"] == failures
    ok = bp.parsed.filter(F.array_contains("tags", "parsed")).count()
    assert per_sink["parsed"] == ok
    assert failures + ok == n_in
    # errors ⊂ parsed
    assert per_sink["errors"] <= per_sink["parsed"]


def test_overlapping_sinks_duplicate_rows(run):
    bp, routed = run
    # every `errors` row is also a `parsed` row (predicate is a refinement)
    err = routed.filter(F.col("sink") == "errors").select("conv_id", "turn_idx")
    par = routed.filter(F.col("sink") == "parsed").select("conv_id", "turn_idx")
    assert err.exceptAll(par).count() == 0
    assert err.count() > 0


def test_text_passthrough_equality(spark, transcripts, run):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the binding per-row invariant (BASELINE.json input_hint)."""
    bp, routed = run
    orig = transcripts.select("conv_id", "turn_idx", F.col("text").alias("text_in"))
    joined = (
        routed.filter(F.col("sink") == "parsed")
        .select("conv_id", "turn_idx", "text")
        .join(orig, ["conv_id", "turn_idx"])
    )
    assert joined.filter(F.col("text") != F.col("text_in")).count() == 0


def test_grok_captures_promoted_and_typed(run):
    bp, routed = run
    parsed = routed.filter(F.col("sink") == "parsed")
    dt = dict(parsed.dtypes)
    assert dt["latency_ms"] == "bigint"
    assert dt["response"] == "bigint"
    assert dt["level"] == "string"
    # tool-log rows carry latency; apache rows carry response — disjoint
    both = parsed.filter(F.col("latency_ms").isNotNull() & F.col("response").isNotNull())
    assert both.count() == 0
    assert parsed.filter(F.col("latency_ms").isNotNull()).count() > 0
    assert parsed.filter(F.col("response").isNotNull()).count() > 0


def test_enrich_broadcast_left_join(run):
    bp, routed = run
    # known tools get a category; tool_x stays null (left join)
    tool_rows = bp.parsed.filter(F.col("tool").isNotNull())
    unknown = tool_rows.filter(F.col("tool") == "tool_x")
    assert unknown.count() > 0
    assert unknown.filter(F.col("tool_category").isNotNull()).count() == 0
    known = tool_rows.filter(F.col("tool") == "search")
    assert known.filter(F.col("tool_category") != "retrieval").count() == 0
    # role_map is total: every row enriched
    assert bp.parsed.filter(F.col("role_kind").isNull()).count() == 0


def test_patch_templates(run):
    bp, _ = run
    row = bp.parsed.filter(F.col("tool").isNotNull()).select("day", "route_key", "ts", "role", "tool").first()
    assert row["day"] == row["ts"].strftime("%Y-%m-%d")
    assert row["route_key"] == f"{row['role']}/{row['tool']}"


def test_json_codec_rows(run):
    bp, _ = run
    js = bp.parsed.filter(F.col("text").startswith("{"))
    assert js.count() > 0
    assert js.filter(F.col("event").isNull()).count() == 0
    assert dict(bp.parsed.dtypes)["k"] == "bigint"


def test_sink_counts_match_routed(run):
    from logspark.operators.aggregates import sink_counts

    bp, routed = run
    total_from_counts = {r["sink"]: r["total"] for r in sink_counts(bp.routed).groupBy("sink").agg(F.sum("n").alias("total")).collect()}
    total_from_routed = {r["sink"]: r["n"] for r in routed.groupBy("sink").agg(F.count("*").alias("n")).collect()}
    assert total_from_counts == total_from_routed


def test_observation_metrics(spark, transcripts, dims):
    bp = pipeline.build(canonical_config(), transcripts, dims)
    bp.routed.write.format("noop").mode("overwrite").save()
    got = bp.observation.get
    assert got["rows_in"] == transcripts.count()
    assert 0 < got["parse_failures"] < got["rows_in"]


def test_unknown_filter_type_raises(spark, transcripts):
    cfg = PipelineConfig.from_dict(
        {
            "input": [{"type": "table", "table": "transcripts"}],
            "filter": [{"type": "nope"}],
            "output": [{"name": "x"}],
        }
    )
    with pytest.raises(ValueError, match="unknown filter type"):
        pipeline.build(cfg, transcripts)


_TABLE = {"type": "table", "table": "transcripts"}


@pytest.mark.parametrize(
    "bad",
    [
        {"input": [_TABLE], "output": []},
        {"input": [_TABLE, {"type": "table", "table": "other"}], "output": [{"name": "x"}]},
        {"input": [{"type": "memory"}], "output": [{"name": "x"}]},
        {"input": [{"type": "table"}], "output": [{"name": "x"}]},
        {"input": [_TABLE], "output": [{"name": "x", "when": {"tag_include": ["parsed"]}}]},
        {
            "input": [_TABLE],
            "filter": [{"type": "drop", "when": {"field_equal": {"status": "err"}}}],
            "output": [{"name": "x"}],
        },
    ],
    ids=[
        "empty-output", "two-tables", "memory-input", "missing-table-key",
        "misspelt-sink-predicate-key", "misspelt-drop-predicate-key",
    ],
)
def test_config_rejects_what_the_pipeline_cannot_run(bad):
    """A config the pipeline cannot run fails at load, before any Spark
    job: run() reads one table's pending files and writes >= 1 sink, and
    a misspelt predicate key would route every row to a sink (or drop
    every row) instead of adding its clause."""
    with pytest.raises(ValueError):
        PipelineConfig.from_dict(bad)


def test_config_load_rejects_malformed_yaml(tmp_path):
    """A malformed YAML file raises ValueError like malformed JSON does, so
    watch() skips the tick instead of dying."""
    p = tmp_path / "pipeline.yaml"
    p.write_text("input: [unclosed\n")
    with pytest.raises(ValueError):
        PipelineConfig.load(str(p))


def test_json_prefilter_accepts_any_leading_whitespace(spark):
    """Regression (ADVICE r1): the `^\\s*\\{` prefilter must not null out
    valid JSON behind a space, tab or newline, and a non-object input is
    still nulled and failure-tagged."""
    from logspark.operators.filters import JSON_FAILURE_TAG, apply_filter_chain

    rows = [("sp", ' {"k": 1}'), ("tab", '\t{"k": 2}'), ("nl", '\n{"k": 3}'), ("bad", "x")]
    df = spark.createDataFrame(rows, "id string, text string")
    cfg = {"type": "json", "source": "text", "schema": "k bigint", "tag_on_failure": True}
    got = {r["id"]: r for r in apply_filter_chain(df, [cfg]).collect()}
    for i, k in (("sp", 1), ("tab", 2), ("nl", 3)):
        assert got[i]["k"] == k
        assert JSON_FAILURE_TAG not in list(got[i]["tags"])
    assert got["bad"]["k"] is None
    assert JSON_FAILURE_TAG in list(got["bad"]["tags"])


def test_manifest_forward_compat_extra_keys(tmp_path):
    """A manifest written by a future version with extra keys must load."""
    import json as _json
    import os as _os

    from logspark.sources import manifest as mf

    root = str(tmp_path / "sinks")
    mf.commit_run(root, mf.RunRecord(run_id="r1", input_files=["f1"]))
    p = mf.manifest_path(root)
    raw = _json.load(open(p))
    raw["runs"][0]["future_field"] = {"new": True}
    _json.dump(raw, open(p, "w"))
    m = mf.load_manifest(root)
    assert m.runs[0].run_id == "r1" and m.processed_files == {"f1"}
    _os.remove(p)


def test_run_gc_orphans_and_run_id_safety(spark, tiny_pdf, tmp_path, dims):
    """Crash-recovery ledger (ADVICE r1): orphan runs/<id>/ dirs (written but
    never committed) are GC'd at the next run start; reusing a committed
    run_id over a different input set is refused instead of clobbering."""
    import os

    from logspark.sources.tableio import ParquetIO

    in_dir = tmp_path / "in"
    tbl_dir = in_dir / "transcripts.parquet"
    tbl_dir.mkdir(parents=True)
    tiny_pdf.iloc[:500].to_parquet(
        tbl_dir / "part-0.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    io = ParquetIO(str(in_dir))
    cfg = canonical_config()
    sink_root = str(tmp_path / "out")

    # fake a crashed run: directory exists, no manifest record
    orphan = tmp_path / "out" / "runs" / "crashed-uuid" / "routed"
    orphan.mkdir(parents=True)
    (orphan / "junk").write_text("x")

    res = pipeline.run(spark, cfg, io, sink_root, run_id="r1", dims=dims)
    assert res.sink_rows["parsed"] > 0
    assert not os.path.exists(str(tmp_path / "out" / "runs" / "crashed-uuid"))

    # new input file; reusing r1 must refuse, fresh id must process it
    tiny_pdf.iloc[500:900].to_parquet(
        tbl_dir / "part-1.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    with pytest.raises(ValueError, match="different input set"):
        pipeline.run(spark, cfg, io, sink_root, run_id="r1", dims=dims)
    res2 = pipeline.run(spark, cfg, io, sink_root, run_id="r2", dims=dims)
    assert len(res2.input_files) == 1  # only the new file


@pytest.mark.parametrize("crash_site", ["after_routed_write", "after_counts_write"])
def test_run_crash_then_retry_equals_no_crash_run(spark, tiny_pdf, tmp_path, dims, monkeypatch, crash_site):
    """A run dies after its routed write (the counts write raises) or after
    its counts write (the manifest commit raises). The retry with
    run_id=None takes the crashed run's "w-" + md5 id, returns the sink rows
    and metrics of a run that never crashed, and leaves runs/ holding
    exactly the manifest's run ids."""
    import hashlib
    import os

    from logspark.sources import manifest as mf
    from logspark.sources.tableio import ParquetIO

    tbl_dir = tmp_path / "in" / "transcripts.parquet"
    tbl_dir.mkdir(parents=True)

    def land(name, rows):
        tiny_pdf.iloc[rows].to_parquet(
            tbl_dir / name, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    io = ParquetIO(str(tmp_path / "in"))
    cfg = canonical_config()
    ref_root, sink_root = str(tmp_path / "ref"), str(tmp_path / "out")
    land("part-0.parquet", slice(0, 500))
    for root in (ref_root, sink_root):
        pipeline.run(spark, cfg, io, root, run_id="r1", dims=dims)
    land("part-1.parquet", slice(500, 900))
    ref = pipeline.run(spark, cfg, io, ref_root, run_id=None, dims=dims)
    assert ref.sink_rows and len(ref.input_files) == 1

    def crash(*args, **kwargs):
        raise RuntimeError(f"crash {crash_site}")

    if crash_site == "after_routed_write":
        # write_sinks plans the counts only after the routed write
        monkeypatch.setattr(pipeline, "sink_counts", crash)
    else:
        monkeypatch.setattr(pipeline.mf, "commit_run", crash)
    with pytest.raises(RuntimeError, match=f"crash {crash_site}"):
        pipeline.run(spark, cfg, io, sink_root, run_id=None, dims=dims)
    monkeypatch.undo()
    crashed = [d for d in os.listdir(os.path.join(sink_root, "runs")) if d != "r1"]
    assert len(crashed) == 1
    assert [r.run_id for r in mf.load_manifest(sink_root).runs] == ["r1"]
    crashed_dir = os.path.join(sink_root, "runs", crashed[0])
    assert os.path.exists(os.path.join(crashed_dir, "routed", "_SUCCESS"))
    counts_written = os.path.exists(os.path.join(crashed_dir, "sink_counts", "_SUCCESS"))
    assert counts_written == (crash_site == "after_counts_write")

    res = pipeline.run(spark, cfg, io, sink_root, run_id=None, dims=dims)
    digest = hashlib.md5("\n".join(sorted(ref.input_files)).encode()).hexdigest()
    assert res.run_id == crashed[0] == ref.run_id == "w-" + digest[:12]
    assert res.input_files == ref.input_files
    assert res.sink_rows == ref.sink_rows
    assert res.metrics == ref.metrics
    committed = [r.run_id for r in mf.load_manifest(sink_root).runs]
    assert committed == ["r1", res.run_id]
    assert sorted(os.listdir(os.path.join(sink_root, "runs"))) == sorted(committed)

    def counts(root):
        path = os.path.join(root, "runs", res.run_id, "sink_counts")
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    assert counts(sink_root) == counts(ref_root)


def test_run_over_zero_row_file_commits(spark, tiny_pdf, tmp_path, dims):
    """A pending file with zero rows routes nothing: the run still writes
    readable (empty) sinks and commits the file, so the next run is a
    no-op instead of failing on the same file at every retry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logspark.sources import manifest as mf
    from logspark.sources.tableio import ParquetIO

    tbl_dir = tmp_path / "in" / "transcripts.parquet"
    tbl_dir.mkdir(parents=True)
    # the transcripts schema with no rows (an empty pandas frame would
    # write its object columns as null-typed)
    pq.write_table(
        pa.Table.from_pandas(tiny_pdf, preserve_index=False).slice(0, 0),
        tbl_dir / "part-0.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    io = ParquetIO(str(tmp_path / "in"))
    sink_root = str(tmp_path / "out")

    res = pipeline.run(spark, canonical_config(), io, sink_root, run_id="r1", dims=dims)
    assert res.sink_rows == {}
    assert res.metrics == {"rows_in": 0.0, "parse_failures": 0.0}
    assert len(res.input_files) == 1
    assert [r.run_id for r in mf.load_manifest(sink_root).runs] == ["r1"]
    counts = spark.read.parquet(str(tmp_path / "out" / "runs" / "r1" / "sink_counts"))
    assert counts.count() == 0

    again = pipeline.run(spark, canonical_config(), io, sink_root, run_id="r2", dims=dims)
    assert again.input_files == [] and again.sink_rows == {}


def test_writer_lock_blocks_concurrent_and_releases_on_death(spark, tiny_pdf, tmp_path, dims):
    """Single-writer invariant (ADVICE r2, flock'd per ADVICE r3): a
    sink_root flock'd by a LIVE writer process refuses a second run() —
    crucially BEFORE the orphan-run GC can delete the live writer's
    in-flight runs/<id> directory. When the holder DIES the kernel drops
    its flock, so the next run proceeds with no steal step."""
    import os
    import subprocess
    import sys

    from logspark.sources.tableio import ParquetIO

    in_dir = tmp_path / "in" / "transcripts.parquet"
    in_dir.mkdir(parents=True)
    tiny_pdf.iloc[:300].to_parquet(
        in_dir / "part-0.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    io = ParquetIO(str(tmp_path / "in"))
    cfg = canonical_config()
    sink_root = str(tmp_path / "out")
    os.makedirs(sink_root, exist_ok=True)
    lock_path = os.path.join(sink_root, ".writer.lock")

    # an in-flight (uncommitted) run dir of the concurrent writer
    inflight = tmp_path / "out" / "runs" / "other-writers-run" / "routed"
    inflight.mkdir(parents=True)
    (inflight / "part").write_text("x")

    holder_src = (
        "import fcntl, os, sys, time\n"
        "fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)\n"
        "fcntl.flock(fd, fcntl.LOCK_EX)\n"
        "os.ftruncate(fd, 0); os.write(fd, str(os.getpid()).encode())\n"
        "print('locked', flush=True)\n"
        "time.sleep(60)\n"
    )
    live = subprocess.Popen(
        [sys.executable, "-c", holder_src, lock_path], stdout=subprocess.PIPE
    )
    try:
        assert live.stdout.readline().strip() == b"locked"
        with pytest.raises(RuntimeError, match="locked by live writer"):
            pipeline.run(spark, cfg, io, sink_root, run_id="mine", dims=dims)
        # the refusal happened before GC: the live writer's dir survived
        assert (inflight / "part").exists()
    finally:
        live.kill()
        live.wait()

    # the holder is dead → the kernel released its flock → run proceeds,
    # and the (now genuinely orphaned) dir is reaped
    res = pipeline.run(spark, cfg, io, sink_root, run_id="mine", dims=dims)
    assert res.sink_rows["parsed"] > 0
    assert not inflight.exists()


def test_writer_lock_reentrant_across_path_spellings(tmp_path):
    """'out', './out', 'out/' and a symlinked spelling are the SAME lock:
    re-entrancy keys on the resolved path, else a nested acquire flocks a
    second fd on the same inode and refuses against its own process."""
    import os

    from logspark.plans.pipeline import WriterLock

    root = tmp_path / "out"
    root.mkdir()
    link = tmp_path / "lnk"
    os.symlink(root, link)
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        with WriterLock("out"):
            with WriterLock("./out"):
                pass
            with WriterLock(str(link)):
                pass
            with WriterLock("out/"):
                pass
    finally:
        os.chdir(cwd)


def test_writer_lock_reentrant_same_process(tmp_path):
    """Nested acquire in one process must not self-deadlock (watch() tick
    calling run()); inner exit must not release the outer hold."""
    import fcntl
    import os

    from logspark.plans.pipeline import WriterLock

    root = str(tmp_path / "s")
    with WriterLock(root) as outer:
        with WriterLock(root):
            pass
        # still held after inner exit: an independent flock attempt fails
        fd = os.open(os.path.join(root, ".writer.lock"), os.O_RDWR)
        try:
            with pytest.raises(OSError):
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            os.close(fd)
        assert outer.acquired
    # fully released now
    fd = os.open(os.path.join(root, ".writer.lock"), os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def test_files_per_sink_caps_output_file_count(spark, tiny_pdf, tmp_path, dims):
    """write.files_per_sink bounds the routed write's file count (default
    dynamic-partition write yields tasks x sinks files) without changing
    the routed content."""
    import glob
    import os

    from logspark.sources.tableio import ParquetIO

    in_dir = tmp_path / "in" / "transcripts.parquet"
    in_dir.mkdir(parents=True)
    # 8 input part-files → default write yields up to 8 x 3 sink files
    for i in range(8):
        tiny_pdf.iloc[i * 250 : (i + 1) * 250].to_parquet(
            in_dir / f"part-{i}.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
        )
    io = ParquetIO(str(tmp_path / "in"))
    dflt = canonical_config()
    res_a = pipeline.run(spark, dflt, io, str(tmp_path / "out_a"), run_id="a", dims=dims)

    capped = canonical_config()
    capped.write = {"files_per_sink": 2}
    res_b = pipeline.run(spark, capped, io, str(tmp_path / "out_b"), run_id="b", dims=dims)

    def n_files(root, rid):
        return len(glob.glob(os.path.join(root, "runs", rid, "routed", "sink=*", "*.parquet")))

    assert res_a.sink_rows == res_b.sink_rows
    a, b = n_files(str(tmp_path / "out_a"), "a"), n_files(str(tmp_path / "out_b"), "b")
    assert b < a, (a, b)
    assert b <= 2 * len(capped.output) * 2  # ~files_per_sink per sink (+ hash-collision slack)
    ra = spark.read.parquet(str(tmp_path / "out_a" / "runs" / "a" / "routed"))
    rb = spark.read.parquet(str(tmp_path / "out_b" / "runs" / "b" / "routed"))
    assert ra.select("sink", "conv_id", "turn_idx").exceptAll(
        rb.select("sink", "conv_id", "turn_idx")
    ).count() == 0


def test_watch_mode_hot_reloads_config(spark, tiny_pdf, tmp_path, dims):
    """Continuous batch-agent mode: each tick re-loads the config (hot
    reload, the reference's etcd-watch analogue) and processes only
    manifest-pending files with a pending-set-derived run_id, listing the
    table once per tick."""
    import hashlib
    import json as _json

    from logspark.sources.tableio import ParquetIO

    tbl = tmp_path / "in" / "transcripts.parquet"
    tbl.mkdir(parents=True)
    tiny_pdf.iloc[:400].to_parquet(
        tbl / "p0.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    cfg = canonical_config()
    cfg_path = tmp_path / "pipeline.json"
    cfg_path.write_text(_json.dumps(
        {"input": cfg.input, "filter": cfg.filter, "enrich": cfg.enrich,
         "output": cfg.output, "aggregate": cfg.aggregate}
    ))
    listings = []

    class CountingIO(ParquetIO):
        def input_files(self, spark, table):
            listings.append(table)
            return super().input_files(spark, table)

    io = CountingIO(str(tmp_path / "in"))
    sink_root = str(tmp_path / "out")

    r1 = pipeline.watch(spark, str(cfg_path), io, sink_root, dims=dims,
                        interval_s=0, max_iterations=1)
    assert len(r1) == 1 and r1[0].sink_rows["parsed"] > 0
    digest = hashlib.md5("\n".join(sorted(r1[0].input_files)).encode()).hexdigest()
    assert r1[0].run_id == "w-" + digest[:12]
    assert len(listings) == 1  # one table listing per tick

    # no new input → the next tick does nothing
    r2 = pipeline.watch(spark, str(cfg_path), io, sink_root, dims=dims,
                        interval_s=0, max_iterations=1)
    assert r2 == [] and len(listings) == 2

    # config edit (new sink) + new input file: BOTH picked up on next tick
    cfg2 = _json.loads(cfg_path.read_text())
    cfg2["output"].append({"name": "everything"})
    cfg_path.write_text(_json.dumps(cfg2))
    tiny_pdf.iloc[400:700].to_parquet(
        tbl / "p1.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    r3 = pipeline.watch(spark, str(cfg_path), io, sink_root, dims=dims,
                        interval_s=0, max_iterations=1)
    assert len(r3) == 1
    assert r3[0].sink_rows.get("everything") == 300  # hot-reloaded sink
    assert len(r3[0].input_files) == 1  # only the new file

    # a bad hot-reloaded config (no table input) must NOT kill the agent
    # (ADVICE r2): the tick is skipped with a warning, and once the config
    # is fixed the next tick resumes where it left off
    cfg3 = _json.loads(cfg_path.read_text())
    good_input = cfg3["input"]
    cfg3["input"] = [{"type": "memory"}]
    cfg_path.write_text(_json.dumps(cfg3))
    r4 = pipeline.watch(spark, str(cfg_path), io, sink_root, dims=dims,
                        interval_s=0, max_iterations=1)
    assert r4 == []
    cfg3["input"] = good_input
    tiny_pdf.iloc[700:900].to_parquet(
        tbl / "p2.parquet", coerce_timestamps="us", allow_truncated_timestamps=True
    )
    # a config with no sink is skipped the same way, with p2 left pending
    good_output = cfg3["output"]
    cfg3["output"] = []
    cfg_path.write_text(_json.dumps(cfg3))
    assert pipeline.watch(spark, str(cfg_path), io, sink_root, dims=dims,
                          interval_s=0, max_iterations=1) == []
    cfg3["output"] = good_output
    cfg_path.write_text(_json.dumps(cfg3))
    r5 = pipeline.watch(spark, str(cfg_path), io, sink_root, dims=dims,
                        interval_s=0, max_iterations=1)
    assert len(r5) == 1 and len(r5[0].input_files) == 1
    assert len(listings) == 4  # the two skipped ticks listed nothing


def test_json_filter_schema_with_failure_tag(spark):
    """Regression: schema-promoted json codec + tag_on_failure used to
    reference the dropped _j column (unresolved-column error)."""
    from logspark.operators.filters import apply_filter_chain

    df = spark.createDataFrame(
        [("a", '{"k": 5}'), ("b", "not json")], "id string, text string"
    )
    out = apply_filter_chain(
        df, [{"type": "json", "source": "text", "schema": "k bigint", "tag_on_failure": True}]
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["k"] == 5 and list(rows["a"]["tags"]) == []
    assert rows["b"]["k"] is None and "_jsonparsefailure" in list(rows["b"]["tags"])


def test_dedup_agent_ticks_equal_whole_corpus(spark, tmp_path):
    """Continuous-ingestion dedup agent: files arriving across ticks yield
    (via all_pairs) exactly the one-shot whole-corpus verified pair set,
    a no-pending tick is a no-op, and a crash replay between the store
    commit and the manifest commit retries idempotently."""
    import os

    from logspark.operators import dedup
    from logspark.plans import dedup_agent
    from logspark.sources.tableio import ParquetIO

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    b1 = [(1, base), (2, base + " today"), (3, "totally different content here okay")]
    b2 = [(4, base + " yesterday"), (5, "totally different content here okay now")]
    import pandas as pd

    tbl = tmp_path / "in" / "docs.parquet"
    tbl.mkdir(parents=True)
    ddl = "doc_id bigint, text string"
    pd.DataFrame(b1, columns=["doc_id", "text"]).to_parquet(tbl / "f1.parquet")
    io = ParquetIO(str(tmp_path / "in"))
    sink = str(tmp_path / "agent")

    r1 = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert r1["run_id"] and len(r1["new_files"]) == 1
    # no new files -> no-op tick
    r_noop = dedup_agent.dedup_tick(spark, io, "docs", sink)
    assert r_noop["run_id"] is None

    pd.DataFrame(b2, columns=["doc_id", "text"]).to_parquet(tbl / "f2.parquet")
    r2 = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert r2["run_id"] and r2["n_pairs"] >= 1  # cross-tick pair (1,4)/(2,4)

    got = {(r["a"], r["b"]) for r in dedup_agent.all_pairs(spark, sink).collect()}
    corpus = spark.createDataFrame(b1 + b2, ddl)
    whole = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard(
            corpus,
            threshold=0.5,
            candidates=dedup.lsh_candidates(dedup.minhash_signatures(corpus)),
        ).collect()
    }
    assert got == whole and whole
    assert any(a in (1, 2) and b == 4 for a, b in got)  # crosses the tick boundary

    # crash replay: drop run 2 from the MANIFEST (store still has it),
    # re-tick -> same rid recomputed via the replay path, same pair set
    from logspark.sources import manifest as mf

    m = mf.load_manifest(sink)
    dropped = [r for r in m.runs if r.run_id != r2["run_id"]]
    mf.save_manifest(sink, mf.Manifest(runs=dropped))
    r2_replay = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert r2_replay["run_id"] == r2["run_id"]
    assert r2_replay["n_pairs"] == r2["n_pairs"]
    got_again = {(r["a"], r["b"]) for r in dedup_agent.all_pairs(spark, sink).collect()}
    assert got_again == whole


@pytest.mark.parametrize("new_arrival", [True, False])
def test_dedup_agent_replay_with_new_arrival(spark, tmp_path, monkeypatch, new_arrival):
    """ADVICE r4 (medium): a tick dies between the SignatureStore commit
    and the manifest commit. If a NEW file arrives before the retry, the
    pending set (and rid) changes; if not, the retry derives the crashed
    tick's rid. Either way replay must be detected PER FILE so the
    crashed file's signatures are never appended twice, the union of
    pairs still equals the one-shot whole-corpus set, and no uncommitted
    run directory is left behind."""
    import os

    import pandas as pd

    from logspark.operators import dedup
    from logspark.plans import dedup_agent
    from logspark.sources import manifest as mf
    from logspark.sources.tableio import ParquetIO

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    b1 = [(1, base), (2, base + " today")]
    b2 = [(3, base + " yesterday"), (4, "totally different content here okay")]
    b3 = [(5, base + " tomorrow"), (6, "totally different content here okay now")]
    tbl = tmp_path / "in" / "docs.parquet"
    tbl.mkdir(parents=True)
    pd.DataFrame(b1, columns=["doc_id", "text"]).to_parquet(tbl / "f1.parquet")
    io = ParquetIO(str(tmp_path / "in"))
    sink = str(tmp_path / "agent")
    store = dedup.SignatureStore(str(tmp_path / "agent" / "sigstore"))

    r1 = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert r1["run_id"]

    # tick 2 ingests f2 and crashes before its manifest commit (the store
    # commit already happened — exactly the crash window)
    pd.DataFrame(b2, columns=["doc_id", "text"]).to_parquet(tbl / "f2.parquet")
    real_commit = mf.commit_run

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(dedup_agent.mf, "commit_run", real_commit)
        raise RuntimeError("crash before the manifest commit")

    monkeypatch.setattr(dedup_agent.mf, "commit_run", crash_once)
    with pytest.raises(RuntimeError, match="crash before the manifest commit"):
        dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    runs_after_crash = store.committed_runs()
    crashed_rid = runs_after_crash[-1]
    assert len(runs_after_crash) == 2
    assert crashed_rid not in {r.run_id for r in mf.load_manifest(sink).runs}

    batches = b1 + b2
    if new_arrival:
        # a NEW file arrives before the retry -> pending = {f2, f3}, rid changes
        pd.DataFrame(b3, columns=["doc_id", "text"]).to_parquet(tbl / "f3.parquet")
        batches += b3
    r3 = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert any(f.endswith("f2.parquet") for f in r3["replayed_files"])
    if new_arrival:
        assert r3["run_id"] != crashed_rid
        assert store.committed_runs() == runs_after_crash + [r3["run_id"]]
    else:
        # same pending set -> same rid, routed through replay, no append
        assert r3["run_id"] == crashed_rid
        assert r3["replayed_files"] == r3["new_files"]
        assert store.committed_runs() == runs_after_crash
    assert dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)["run_id"] is None
    # the crashed tick's uncommitted runs/<id> is GC'd once a retry runs
    # under another id: runs/ holds exactly the committed ticks
    assert sorted(os.listdir(os.path.join(sink, "runs"))) == sorted(
        r.run_id for r in mf.load_manifest(sink).runs
    )

    # the store must hold exactly ONE signature row per doc (no re-append)
    sigs = store.load(spark).groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in sigs) and len(sigs) == len(batches)

    # union of tick pairs == one-shot whole-corpus pairs
    corpus = spark.createDataFrame(batches, "doc_id bigint, text string")
    whole = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard(
            corpus,
            threshold=0.5,
            candidates=dedup.lsh_candidates(dedup.minhash_signatures(corpus)),
        ).collect()
    }
    got = {(r["a"], r["b"]) for r in dedup_agent.all_pairs(spark, sink).collect()}
    assert got == whole and whole


def _tick_table(tmp_path):
    """(io, sink, table dir) for a `docs` table the tests land files into."""
    from logspark.sources.tableio import ParquetIO

    tbl = tmp_path / "in" / "docs.parquet"
    tbl.mkdir(parents=True)
    return ParquetIO(str(tmp_path / "in")), str(tmp_path / "agent"), tbl


def _pairs_on_disk(spark, sink, rid):
    import os

    return spark.read.parquet(os.path.join(sink, "runs", rid, "pairs")).count()


def test_dedup_tick_checkpoints_candidates_once(spark, tmp_path, monkeypatch):
    """A steady-state tick checkpoints its candidate pair list exactly
    once (inside the verify) and nothing else — no checkpoint of the
    batch signatures, of the candidates before the verify, or of the
    verify's 3-gram sets."""
    import pandas as pd

    from logspark.plans import dedup_agent

    io, sink, tbl = _tick_table(tmp_path)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    pd.DataFrame([(1, base), (2, "totally different content here okay")],
                 columns=["doc_id", "text"]).to_parquet(tbl / "f1.parquet")
    assert dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)["run_id"]

    pd.DataFrame([(3, base + " today"), (4, "totally different content here okay now")],
                 columns=["doc_id", "text"]).to_parquet(tbl / "f2.parquet")
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    calls = []

    def counted(self, *args, **kwargs):
        calls.append(self.columns)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counted)
    r = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert r["n_pairs"] >= 1
    assert calls == [["a", "b"]]


def test_dedup_tick_pair_count_matches_written_pairs(spark, tmp_path, monkeypatch):
    """`n_pairs` is observed on the pairs write; it equals the rows of
    runs/<rid>/pairs on disk for a fresh tick and for a tick that replays
    files a crashed tick had already committed to the store, and the
    manifest records it with the replayed-file count."""
    import pandas as pd

    from logspark.plans import dedup_agent
    from logspark.sources import manifest as mf

    io, sink, tbl = _tick_table(tmp_path)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    pd.DataFrame([(1, base), (2, base + " today"), (3, "something else entirely here")],
                 columns=["doc_id", "text"]).to_parquet(tbl / "f1.parquet")
    fresh = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert fresh["n_pairs"] == _pairs_on_disk(spark, sink, fresh["run_id"]) == 1

    pd.DataFrame([(4, base + " yesterday"), (5, base + " tomorrow")],
                 columns=["doc_id", "text"]).to_parquet(tbl / "f2.parquet")
    real_commit = mf.commit_run

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(dedup_agent.mf, "commit_run", real_commit)
        raise RuntimeError("crash before the manifest commit")

    monkeypatch.setattr(dedup_agent.mf, "commit_run", crash_once)
    with pytest.raises(RuntimeError, match="crash before the manifest commit"):
        dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    replayed = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    assert replayed["replayed_files"] == replayed["new_files"]
    assert replayed["n_pairs"] == _pairs_on_disk(spark, sink, replayed["run_id"]) >= 2
    # the manifest records both ticks' pair and replay counts
    metrics = {r.run_id: r.metrics for r in mf.load_manifest(sink).runs}
    assert metrics == {
        fresh["run_id"]: {"n_pairs": 1.0, "replayed_files": 0.0},
        replayed["run_id"]: {"n_pairs": float(replayed["n_pairs"]), "replayed_files": 1.0},
    }


def test_parquet_io_listing_matches_parquet_read_without_a_job(spark, tmp_path):
    """`ParquetIO.input_files` lists the same files a parquet read of the
    table would scan (hidden and `_`-prefixed files skipped, partition
    directories walked) and runs no Spark job; an empty table lists no
    files."""
    from logspark.sources.tableio import ParquetIO

    spark.range(6).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(str(tmp_path / "parts"))
    (tmp_path / "parts" / "_SUCCESS").touch()
    (tmp_path / "parts" / ".stray.crc").touch()
    (tmp_path / "empty").mkdir()
    io = ParquetIO(str(tmp_path))
    sc = spark.sparkContext
    sc.setJobGroup("listing", "listing")
    try:
        listed = io.input_files(spark, "parts")
        empty = io.input_files(spark, "empty")
        assert sc.statusTracker().getJobIdsForGroup("listing") == []
    finally:
        sc.setJobGroup(None, None)
    assert listed == sorted(spark.read.parquet(str(tmp_path / "parts")).inputFiles())
    assert len(listed) >= 3 and all("/k=" in f for f in listed)
    assert empty == []


def test_dedup_tick_verify_scan_pruned(spark, tmp_path):
    """VERDICT r4 #5: the tick's verify-stage corpus scan reads only
    pending ∪ store-member files — a file that lands in the table after
    the tick's listing (simulated by pinning input_files) is never
    scanned, where io.read(table) at action time would have read it."""
    import pandas as pd

    from logspark.plans import dedup_agent
    from logspark.sources.tableio import ParquetIO

    tbl = tmp_path / "in" / "docs.parquet"
    tbl.mkdir(parents=True)
    pd.DataFrame([(1, "alpha beta gamma"), (2, "alpha beta gamma delta")],
                 columns=["doc_id", "text"]).to_parquet(tbl / "f1.parquet")
    io = ParquetIO(str(tmp_path / "in"))
    sink = str(tmp_path / "agent")
    r1 = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.3)
    assert all("f1.parquet" in f for f in r1["corpus_files"])

    pd.DataFrame([(3, "alpha beta gamma epsilon")], columns=["doc_id", "text"]
                 ).to_parquet(tbl / "f2.parquet")
    # concurrent arrival AFTER this tick's listing: pin the listing to
    # {f1, f2}, then drop f_late into the table before the tick runs
    listed = io.input_files(spark, "docs")

    class PinnedIO(ParquetIO):
        def input_files(self, spark, table):
            return listed

    pd.DataFrame([(9, "zeta eta theta")], columns=["doc_id", "text"]
                 ).to_parquet(tbl / "f_late.parquet")
    r2 = dedup_agent.dedup_tick(spark, PinnedIO(str(tmp_path / "in")), "docs", sink, threshold=0.3)
    assert r2["run_id"] is not None
    assert not any("f_late" in f for f in r2["corpus_files"])
    assert any("f1.parquet" in f for f in r2["corpus_files"])  # store-member file scanned
    assert any("f2.parquet" in f for f in r2["corpus_files"])  # pending file scanned


def test_watch_dedup_compaction_preserves_provenance(spark, tmp_path, monkeypatch):
    """The tick's COMPACT_EVERY folds the store's run dirs into one
    WITHOUT losing the per-file ingestion provenance — a post-compaction
    tick still sees earlier files as ingested (no duplicate signatures)
    and the cumulative pair set still equals the one-shot whole corpus."""
    import os

    import pandas as pd

    from logspark.operators import dedup
    from logspark.plans import dedup_agent
    from logspark.sources.tableio import ParquetIO

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    batches = [
        [(1, base), (2, base + " today")],
        [(3, base + " yesterday")],
        [(4, base + " tomorrow")],
    ]
    tbl = tmp_path / "in" / "docs.parquet"
    tbl.mkdir(parents=True)
    io = ParquetIO(str(tmp_path / "in"))
    sink = str(tmp_path / "agent")
    monkeypatch.setattr(dedup_agent, "COMPACT_EVERY", 2)
    for i, rows in enumerate(batches):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(tbl / f"f{i}.parquet")
        dedup_agent.watch_dedup(spark, io, "docs", sink, interval_s=0.01, max_iterations=1)
    store = dedup.SignatureStore(os.path.join(sink, "sigstore"))
    assert len(store.committed_runs()) < 3  # compaction actually fired
    assert len(store.committed_files()) == 3  # provenance survived
    sigs = store.load(spark).groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in sigs) and len(sigs) == 4
    corpus = spark.createDataFrame([r for b in batches for r in b], "doc_id bigint, text string")
    whole = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard(
            corpus,
            threshold=0.5,
            candidates=dedup.lsh_candidates(dedup.minhash_signatures(corpus)),
        ).collect()
    }
    got = {(r["a"], r["b"]) for r in dedup_agent.all_pairs(spark, sink).collect()}
    assert got == whole and whole


def test_watch_dedup_loop(spark, tmp_path):
    """watch_dedup polls and ticks: first iteration ingests the pending
    file, second is a no-op (nothing new); each tick lists the table once."""
    import pandas as pd

    from logspark.plans import dedup_agent
    from logspark.sources.tableio import ParquetIO

    tbl = tmp_path / "in" / "docs.parquet"
    tbl.mkdir(parents=True)
    pd.DataFrame(
        [(1, "some words here"), (2, "other words there")], columns=["doc_id", "text"]
    ).to_parquet(tbl / "f1.parquet")
    listings = []

    class CountingIO(ParquetIO):
        def input_files(self, spark, table):
            listings.append(table)
            return super().input_files(spark, table)

    res = dedup_agent.watch_dedup(
        spark, CountingIO(str(tmp_path / "in")), "docs", str(tmp_path / "agent"),
        interval_s=0.01, max_iterations=2,
    )
    assert len(res) == 2
    assert res[0]["run_id"] is not None and res[1]["run_id"] is None
    assert listings == ["docs", "docs"]


def test_signature_store_partition_by_must_match_existing_layout(spark, tmp_path):
    """ADVICE r5 low: partition_by is a store-global layout key — mixing a
    partitioned append into a non-partitioned store (or changing the
    columns) breaks load()'s per-run union and compaction; append must raise."""
    import pytest as _pytest

    from logspark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], "doc_id bigint, text string"
    )
    sigs = dedup.minhash_signatures(docs).withColumn("cell", F.col("doc_id") % 2)

    store = dedup.SignatureStore(str(tmp_path / "s1"))
    store.append(sigs, "r1", input_files=["f1"])
    with _pytest.raises(ValueError, match="partition_by"):
        store.append(sigs, "r2", input_files=["f2"], partition_by=["cell"])

    store2 = dedup.SignatureStore(str(tmp_path / "s2"))
    store2.append(sigs, "r1", input_files=["f1"], partition_by=["cell"])
    with _pytest.raises(ValueError, match="partition_by"):
        store2.append(sigs, "r2", input_files=["f2"])  # None vs ["cell"]
    store2.append(sigs, "r3", input_files=["f3"], partition_by=["cell"])  # same: ok
