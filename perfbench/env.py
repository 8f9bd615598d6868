"""Box sizing, the Spark session, and measurement taken from outside the
program: process-tree memory, CPU pinning, and Spark's own status stores.

Everything here reads state that Spark or the kernel keeps anyway; nothing
is injected into logspark.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field


def box_cores() -> int:
    """Cores this process may run on (the affinity mask, not the host)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A sixteenth of RAM, clamped to [1 GiB, 2 GiB]: the inputs are small,
    and the rest stays free for the Python workers and for co-tenants."""
    return max(1024, min(2048, mem_total_mb() // 16))


def start_spark(work_dir: str, cores: int, app_name: str):
    """A fresh session on local[cores] through logspark.session.get_spark.
    Every file Spark writes lands under work_dir.

    The heap is fixed and touched up front (-Xms = -Xmx, AlwaysPreTouch):
    a growing heap makes resident memory depend on when the collector last
    ran. With the heap fixed, peak memory moves with off-heap, metaspace and
    Python-worker memory, and heap pressure shows as collection time in the
    timed operations."""
    from logspark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{driver_heap_mb()}m"
    return get_spark(
        master=f"local[{cores}]",
        app_name=app_name,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": heap,
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the gateway JVM behind it, and wait until the
    JVM and every other child process have exited. The JVM exits when its
    stdin closes; its Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# process tree: memory sampling and CPU pinning
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """root and all of its descendants: the driver Python, the JVM and the
    Python workers the JVM forks."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _pss_kb(pid: int) -> tuple[str, int]:
    """(command name, proportional set size in KiB) of one process; 0 once it
    has exited. PSS splits each shared page among the processes mapping it,
    so a JVM thread that forks a helper (Hadoop's local file system runs
    chmod that way) is not counted twice, as summed RSS would count it."""
    name, pss = "?", 0
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    pss = int(line.split()[1])
                    break
    except (FileNotFoundError, ProcessLookupError):
        pass
    return name, pss


class RssSampler:
    """Peak resident memory of the process tree (summed PSS), sampled every
    `period_s` on a daemon thread between start() and stop()."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_parts: list[tuple[str, int]] = []  # (name, KiB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        parts = [_pss_kb(p) for p in process_tree()]
        total = sum(kb for _, kb in parts)
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, sorted(parts, key=lambda p: -p[1])

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def pin_tree(cpus: set[int]) -> None:
    """Set the affinity of every thread of every process in the tree. New
    threads and forked workers inherit the mask of the thread creating them,
    so this is the in-process equivalent of starting the tree under taskset."""
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except (ProcessLookupError, PermissionError, OSError):
                pass


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric as the status store formats it ('1,234', '41.8 KiB',
    'total (min, med, max ...)\\n11.7 s (...)') → bytes, seconds or a count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Execution:
    """One SQL execution: its wall span, its plan, and node metrics
    summed by (node name, metric name)."""

    id: int
    seconds: float
    plan: str
    jobs: list[int]
    metrics: dict[tuple[str, str], float] = field(default_factory=dict)


@dataclass
class Stages:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0

    def __iadd__(self, o: "Stages") -> "Stages":
        self.tasks += o.tasks
        self.failed_tasks += o.failed_tasks
        self.run_s += o.run_s
        self.shuffle_write_bytes += o.shuffle_write_bytes
        self.spill_bytes += o.spill_bytes
        return self


class StatusProbe:
    """Reads the SQL status store (per-execution spans and node metrics) and
    the app status store (per-stage task counts, run time, shuffle, spill)
    for the executions started since the last `mark()`."""

    PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                         "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                         "WindowInPandas", "PythonMapInArrow")

    def __init__(self, spark):
        self.spark = spark
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._last_exec = self._max_exec_id()

    def _max_exec_id(self) -> int:
        ex = self._sql.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def mark(self) -> None:
        self._last_exec = self._max_exec_id()

    def executions(self) -> list[Execution]:
        """Completed executions newer than the mark, oldest first; moves the
        mark past them."""
        ex = self._sql.executionsList()
        out: list[Execution] = []
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec or e.completionTime().isEmpty():
                continue
            seconds = (e.completionTime().get().getTime() - e.submissionTime()) / 1000.0
            jobs_it = e.jobs().keys().iterator()
            jobs = []
            while jobs_it.hasNext():
                jobs.append(int(jobs_it.next()))
            values = self._sql.executionMetrics(eid)
            metrics: dict[tuple[str, str], float] = {}
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = (node.name(), m.name())
                        metrics[key] = metrics.get(key, 0.0) + metric_value(v.get())
            out.append(Execution(eid, seconds, e.physicalPlanDescription(), jobs, metrics))
        if out:
            self._last_exec = max(e.id for e in out)
        return sorted(out, key=lambda e: e.id)

    def stages(self, jobs: list[int]) -> Stages:
        from py4j.protocol import Py4JJavaError

        tracker = self.spark.sparkContext.statusTracker()
        total = Stages()
        seen: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._app.lastStageAttempt(int(sid))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                total += Stages(
                    tasks=sd.numCompleteTasks(),
                    failed_tasks=sd.numFailedTasks(),
                    run_s=sd.executorRunTime() / 1000.0,
                    shuffle_write_bytes=float(sd.shuffleWriteBytes()),
                    spill_bytes=float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                )
        return total

    @classmethod
    def python_eval_s(cls, execs: list[Execution]) -> float:
        return sum(
            v
            for e in execs
            for (node, name), v in e.metrics.items()
            if node.startswith(cls.PYTHON_EVAL_NODES) and name == "time to run Python workers"
        )


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def now() -> float:
    return time.perf_counter()
