"""The workloads. Each is a closed loop with one client: the next operation
starts only after the previous one has returned.

A workload generates its seeded input files (`generate`, pure Python, run
while the JVM starts), binds to the session (`attach`), runs untimed warm-up
operations (`warm`), then the runner times `run_op` calls. `verify` checks
every recorded operation against an independent result after the loop, and
`layers` gives the traced per-layer numbers.

The program is driven only through its public entry points:
plans.pipeline.run and plans.dedup_agent.dedup_tick, and, for the prefix
cuts of a traced run, the layer functions (sources.tableio,
operators.filters, operators.enrich, operators.router, operators.dedup).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import traceback
from dataclasses import dataclass, field

from perfbench import checks, inputs
from perfbench.env import StatusProbe, dir_stats, now, pin_tree, start_spark


@dataclass
class Op:
    seconds: float
    items: int
    ok: bool = True
    detail: dict = field(default_factory=dict)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def local_paths(files) -> list[str]:
    """Spark's file URIs as plain local paths."""
    return [f[len("file:"):].replace("///", "/", 1) if f.startswith("file:") else f for f in files]


def timed_noop(df) -> float:
    t = now()
    noop(df)
    return now() - t


class Workload:
    name = ""
    # Untimed warm-up operations: the number after which an operation is
    # within noise of the steady time on a 4-vCPU reference machine.
    WARM = 2

    def __init__(self, work_dir: str, seed: int, cores: int, trace: bool):
        self.work, self.seed, self.cores, self.trace = work_dir, seed, cores, trace
        self.spark = None
        self.tracing = False
        self.ops: list[Op] = []
        self.warm_s: list[float] = []
        self.probe: StatusProbe | None = None
        self.layer_samples: dict[str, list[float]] = {}

    def generate(self) -> None:
        """Write or prepare the seed's inputs; no Spark."""

    def attach(self, spark) -> None:
        self.spark = spark

    def warm(self) -> None:
        for _ in range(self.WARM):
            self.warm_s.append(self.run_op(record=False).seconds)

    def run_op(self, record: bool = True) -> Op:
        self.tracing = self.trace and record
        if not record:
            return self.op()
        if self.probe is not None:
            self.probe.mark()
        t = now()
        try:
            op = self.op()
        except Exception as e:  # an operation that raises counts as failed
            traceback.print_exc()
            op = Op(now() - t, 0, ok=False, detail={"error": repr(e)})
        self.ops.append(op)
        if self.probe is not None and op.ok:
            t = now()
            self.sample_layers(op)
            self.add("trace.probe_s", now() - t)
        return op

    def op(self) -> Op:
        raise NotImplementedError

    def good_ops(self) -> list[Op]:
        """Recorded ops that returned (a raised op stays failed)."""
        return [o for o in self.ops if "error" not in o.detail]

    def exhausted(self) -> bool:
        return False

    def verify(self) -> None:
        """Set op.ok on every recorded op that returned."""
        raise NotImplementedError

    def sample_layers(self, op: Op) -> None:
        """Traced runs: read the status stores for the op just finished."""

    def traced_extras(self) -> dict[str, float]:
        """Traced runs: per-layer numbers measured after the timed loop."""
        return {}

    def layers(self) -> dict[str, float]:
        return {k: median(v) for k, v in self.layer_samples.items()}

    def add(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(float(value))

    def spark_layers(self, execs):
        st = self.probe.stages([j for e in execs for j in e.jobs])
        self.add("spark.python_eval_s", StatusProbe.python_eval_s(execs))
        self.add("spark.spill_bytes", st.spill_bytes)
        self.add("spark.tasks_failed", st.failed_tasks)
        return st

    def summary(self) -> dict[str, float]:
        """Median operation time, and items (turns or docs) per second of
        summed operation time."""
        t = [o.seconds for o in self.ops]
        return {"op_s_p50": median(t), "items_per_s": sum(o.items for o in self.ops) / sum(t)}


# ---------------------------------------------------------------------------
# parse→route pipeline
# ---------------------------------------------------------------------------


class ParseRouteBatch(Workload):
    """One full (non-incremental) pipeline.run over a multi-file table."""

    name = "parse_route_batch"
    WARM = 3  # cold 18-25 s, then 7-10 s, then 5-6 s, then steady about 4.5-5 s
    N_TURNS = 240_000
    N_FILES = 8
    CUT_REPEATS = 2

    def generate(self) -> None:
        from logspark.sources.tableio import ParquetIO

        in_dir = os.path.join(self.work, "in")
        self.files = inputs.stage_transcripts(self.seed, self.N_TURNS, self.N_FILES, os.path.join(in_dir, "transcripts"))
        self.io = ParquetIO(in_dir)
        self.n = 0

    def attach(self, spark) -> None:
        from logspark import datagen
        from logspark.config import canonical_config

        super().attach(spark)
        self.cfg = canonical_config()
        self.dims = {
            "tool_catalog": spark.createDataFrame(datagen.tool_catalog_pdf()),
            "role_map": spark.createDataFrame(datagen.role_map_pdf()),
        }

    def op(self) -> Op:
        from logspark.plans import pipeline

        self.n += 1
        rid = f"b{self.n}"
        sink_root = os.path.join(self.work, "out", rid)
        t = now()
        res = pipeline.run(self.spark, self.cfg, self.io, sink_root, run_id=rid, dims=self.dims, incremental=False)
        dt = now() - t
        if not self.tracing:
            shutil.rmtree(sink_root, ignore_errors=True)
        return Op(dt, self.N_TURNS, detail={"sink_rows": res.sink_rows, "metrics": res.metrics, "sink_root": sink_root, "run_id": rid})

    def sample_layers(self, op: Op) -> None:
        """Write and counts layers of the run(), from its SQL executions (told
        apart by the output path in their plan) and its output directory."""
        execs = self.probe.executions()
        routed = os.path.join(op.detail["sink_root"], "runs", op.detail["run_id"], "routed")
        writes = [e for e in execs if "InsertIntoHadoopFsRelationCommand" in e.plan and routed in e.plan]
        counts = [e for e in execs if "sink_counts" in e.plan]
        self.add("pipeline.write_s", sum(e.seconds for e in writes))
        size, files = dir_stats(routed)
        self.add("pipeline.write_bytes", size)
        self.add("pipeline.files_written", files)
        self.add("aggregates.counts_s", sum(e.seconds for e in counts))
        self.add("aggregates.shuffle_bytes", self.probe.stages([j for e in counts for j in e.jobs]).shuffle_write_bytes)
        self.spark_layers(execs)
        rows_in = op.detail["metrics"].get("rows_in") or 1.0
        self.add("filters.grok.parsed_frac", op.detail["sink_rows"].get("parsed", 0) / rows_in)
        self.add("router.fanout", sum(op.detail["sink_rows"].values()) / rows_in)
        shutil.rmtree(op.detail["sink_root"], ignore_errors=True)

    def verify(self) -> None:
        want = checks.sink_totals(self.files)
        for op in self.good_ops():
            op.ok = op.detail["sink_rows"] == want

    def traced_extras(self) -> dict[str, float]:
        return {**self.prefix_cuts(), "scaling.eff_1_4": self.scaling_eff()}

    def scaling_eff(self) -> float:
        """The batch job over half the table at local[1] pinned to one CPU
        against local[n] pinned to n CPUs (n = min(4, cores)):
        (rate_n / rate_1) / n, one op per arm. Both arms restart the
        SparkContext inside the already warm JVM and pin every thread of the
        process tree, as taskset would. Runs last: it replaces the session."""
        from logspark.sources.tableio import ParquetIO

        cpus = sorted(os.sched_getaffinity(0))
        n = min(4, self.cores)
        half = os.path.join(self.work, "in-half", "transcripts")
        os.makedirs(half)
        for f in self.files[: self.N_FILES // 2]:
            shutil.copyfile(f, os.path.join(half, os.path.basename(f)))
        self.io = ParquetIO(os.path.dirname(half))
        rate = {}
        try:
            for arm in (1, n):
                self.spark.stop()
                pin_tree(set(cpus[:arm]))
                self.attach(start_spark(self.work, arm, f"perfbench-scaling-{arm}"))
                t = now()
                self.run_op(record=False)
                rate[arm] = (self.N_TURNS // 2) / (now() - t)
        finally:
            pin_tree(set(cpus))
        return (rate[n] / rate[1]) / n

    def prefix_cuts(self) -> dict[str, float]:
        """Self time of each layer: the same input re-run, cut after each
        layer's public call into a noop sink; a layer's self time is the
        difference between consecutive cuts (median of CUT_REPEATS)."""
        from logspark.operators.enrich import apply_enrich_chain
        from logspark.operators.filters import apply_filter_chain, ensure_tags
        from logspark.operators.router import route

        grok, js, patch = self.cfg.filter
        src = ensure_tags(self.io.read_files(self.spark, "transcripts", self.files))
        cuts = [
            ("scan", src),
            ("filters.grok", apply_filter_chain(src, [grok])),
            ("filters.json", apply_filter_chain(src, [grok, js])),
            ("filters.patch", apply_filter_chain(src, [grok, js, patch])),
        ]
        cuts.append(("enrich", apply_enrich_chain(cuts[-1][1], self.cfg.enrich, self.dims)))
        cuts.append(("router", route(cuts[-1][1], self.cfg.output)))
        noop(cuts[-1][1])  # warm the cut plans once
        out, prev = {}, 0.0
        for name, df in cuts:
            t = median(timed_noop(df) for _ in range(self.CUT_REPEATS))
            out[f"{name}.self_s"] = t - prev
            prev = t
        return out


# ---------------------------------------------------------------------------
# incremental near-dup ticks
# ---------------------------------------------------------------------------


class DedupTicks(Workload):
    """A documents table grows file by file, with dedup_tick after each.

    Each file is written aside and renamed into the table, so it appears
    atomically, as it would from an upstream writer."""

    name = "dedup_ticks"
    DOCS_PER_FILE = 3000
    MAX_FILES = 24
    WITHIN, CROSS = 0.02, 0.02  # planted near-dup shares per file
    THRESHOLD = 0.5

    def generate(self) -> None:
        from logspark.sources.tableio import ParquetIO

        in_dir = os.path.join(self.work, "in")
        self.table_dir = os.path.join(in_dir, "documents")
        self.landing = os.path.join(self.work, "landing")
        os.makedirs(self.table_dir, exist_ok=True)
        self.io = ParquetIO(in_dir)
        self.sink_root = os.path.join(self.work, "out")
        self.landed: list[str] = []
        self.ticks: dict[int, dict] = {}  # index of the landed file → dedup_tick result
        self.batches, self.planted = inputs.doc_batches(self.seed, self.MAX_FILES, self.DOCS_PER_FILE, self.WITHIN, self.CROSS)

    def exhausted(self) -> bool:
        return len(self.landed) >= self.MAX_FILES

    def land(self) -> str:
        name = f"part-{len(self.landed):05d}.parquet"
        tmp = os.path.join(self.landing, name)
        inputs.write_parquet(self.batches[len(self.landed)], tmp)
        dst = os.path.join(self.table_dir, name)
        os.replace(tmp, dst)
        self.landed.append(dst)
        return dst

    def op(self) -> Op:
        from logspark.plans.dedup_agent import dedup_tick
        from logspark.sources import manifest as mf

        path = self.land()
        if self.tracing:
            t = now()
            mf.load_manifest(self.sink_root)
            self.add("manifest.load_s", now() - t)
            self.dedup_cuts(path)
            self.probe.mark()
        t = now()
        r = dedup_tick(self.spark, self.io, "documents", self.sink_root, threshold=self.THRESHOLD)
        dt = now() - t
        i = len(self.landed) - 1
        self.ticks[i] = r
        return Op(dt, self.DOCS_PER_FILE, detail={"file": path, "tick": r, "tick_index": i})

    def dedup_cuts(self, path: str) -> None:
        """Prefix cuts of the tick's dedup layers over the file just landed
        and the store as it stands: minhash → band + candidate join →
        Jaccard verify, plus a scan of the store on its own."""
        from pyspark.sql import functions as F

        from logspark.operators.dedup import SignatureStore, band_signatures, minhash_signatures, ngram_jaccard

        store = SignatureStore(os.path.join(self.sink_root, "sigstore"))
        new = self.io.read_files(self.spark, "documents", [path])
        old = store.load(self.spark)
        if old is not None:
            self.add("sigstore.load_s", timed_noop(old))
        sigs = minhash_signatures(new)
        c_minhash = timed_noop(sigs)
        banded = band_signatures(sigs if old is None else old.unionByName(sigs))
        left = banded.join(sigs.select("doc_id"), "doc_id", "leftsemi").alias("l")
        cand = (
            left.join(banded.alias("r"), ["band", "key"])
            .filter(F.col("l.doc_id") != F.col("r.doc_id"))
            .select(F.least("l.doc_id", "r.doc_id").alias("a"), F.greatest("l.doc_id", "r.doc_id").alias("b"))
            .distinct()
        )
        c_band = timed_noop(cand)
        corpus = self.io.read_files(self.spark, "documents", self.landed)
        t = now()  # ngram_jaccard checkpoints eagerly while building its plan
        noop(ngram_jaccard(corpus, threshold=self.THRESHOLD, candidates=cand))
        c_verify = now() - t
        self.n_cand = cand.count()
        self.add("dedup.minhash.self_s", c_minhash)
        self.add("dedup.band.self_s", c_band - c_minhash)
        self.add("dedup.verify.self_s", c_verify - c_band)
        self.add("dedup.candidates", self.n_cand)

    def sample_layers(self, op: Op) -> None:
        from logspark.sources import manifest as mf

        execs = self.probe.executions()
        st = self.spark_layers(execs)
        spark_s = sum(e.seconds for e in execs)
        self.add("tick.spark_s", spark_s)
        self.add("tick.driver_s", op.seconds - spark_s)
        self.add("tick.tasks", st.tasks)
        self.add("tick.core_util", st.run_s / (op.seconds * self.cores))
        self.add("manifest.bytes", os.path.getsize(mf.manifest_path(self.sink_root)))
        store_root = os.path.join(self.sink_root, "sigstore")
        runs_dir = os.path.join(store_root, "runs")
        appends = [e for e in execs if "InsertIntoHadoopFsRelationCommand" in e.plan and runs_dir in e.plan]
        self.add("sigstore.append_s", sum(e.seconds for e in appends))
        with open(os.path.join(store_root, "index.json")) as f:
            self.add("sigstore.runs", len(json.load(f)["runs"]))
        self.add("sigstore.bytes", dir_stats(store_root)[0])
        n_pairs = op.detail["tick"]["n_pairs"]
        self.add("dedup.pairs", n_pairs)
        self.add("dedup.verify_yield", n_pairs / self.n_cand if self.n_cand else 0.0)

    def verify(self) -> None:
        """Each tick's pairs are exactly the one-shot whole-corpus pairs whose
        later member it ingested, so the union of ticks equals the one-shot
        set. Planted-pair recall is reported, not gated: LSH may miss a pair."""
        from pyspark.sql import functions as F

        from logspark.operators.dedup import lsh_candidates, minhash_signatures, ngram_jaccard

        corpus = self.io.read_files(self.spark, "documents", self.landed)
        cand = lsh_candidates(minhash_signatures(corpus))
        want = {(r["a"], r["b"]) for r in ngram_jaccard(corpus, threshold=self.THRESHOLD, candidates=cand).select("a", "b").collect()}

        run_of = {t["run_id"]: i for i, t in self.ticks.items()}
        paths = [os.path.join(self.sink_root, "runs", rid, "pairs") for rid in run_of]
        rows = self.spark.read.parquet(*paths).select("a", "b", F.input_file_name().alias("f")).collect()
        by_tick: dict[int, set] = {i: set() for i in self.ticks}
        for r in rows:
            by_tick[run_of[r["f"].split("/runs/")[1].split("/")[0]]].add((r["a"], r["b"]))
        got = set().union(*by_tick.values())

        tick_of = {int(d): i for i, b in enumerate(self.batches[: len(self.landed)]) for d in b["doc_id"]}
        for op in self.good_ops():
            i = op.detail["tick_index"]
            expect = {p for p in want if max(tick_of[p[0]], tick_of[p[1]]) == i}
            op.ok = local_paths(op.detail["tick"]["new_files"]) == [op.detail["file"]] and by_tick[i] == expect
        if got != want:
            for op in self.ops:
                op.ok = False
        planted = [p for p in self.planted if p[0] in tick_of and p[1] in tick_of]
        self.planted_recall = sum(p in got for p in planted) / max(1, len(planted))

    def layers(self) -> dict[str, float]:
        return {**super().layers(), "dedup.planted_recall": self.planted_recall}


WORKLOADS = {w.name: w for w in (ParseRouteBatch, DedupTicks)}
