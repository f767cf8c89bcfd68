"""Machine pinning, Spark set-up and tear-down, memory sampling and the
tracer. Everything here observes the program from outside: spans wrap
calls into its public functions, and the per-layer numbers come from
Spark's status store and the executed plans of DataFrames the benchmark
ran itself."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

# The session default heap (24g) exceeds a 15 GB machine. The heap is
# committed and touched at start (Xms = Xmx, AlwaysPreTouch), so peak RSS
# does not swing with how far the collector let the heap grow in one run.
DRIVER_MEM = "2g"


def pin_environment(root: str, work: str) -> dict:
    """Pin cores, driver heap, scratch directories and the workers'
    import path before the JVM starts; return the machine shape."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' pyspark-shell",
    )
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    import pyspark

    return {
        "cores": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_mem": DRIVER_MEM,
        "spark": pyspark.__version__,
    }


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, close the gateway's stdin so the JVM exits, and
    wait until the JVM and every process under it (the Python workers)
    has ended; kill what is left after ``timeout_s``."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --------------------------------------------------------------- memory --


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def tree_rss_mb(pid: int) -> float:
    """Summed resident memory of ``pid`` and all its descendants, counting
    each shared page once (proportional set size). Plain RSS would count
    a forked Python worker's copy-on-write pages twice, and the JVM twice
    for the instant a helper process forks before it execs."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            total += _pss_kb(p)
        except (OSError, StopIteration, ValueError):  # the process just ended
            continue
    return total / 1024


class RssSampler:
    """Peak summed RSS of this process tree (benchmark, driver JVM,
    Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------- tracing --


class Tracer:
    """Spans around calls into the program's layers, kept in memory.

    When disabled, ``span`` only yields; the end-to-end runs measure with
    it off. When enabled, each span also sets the Spark job group to the
    span's name, so the status store can attribute stages to it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            self._sc.setJobGroup(self.group(name), name)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["start"], rec["end"] = start, end
            self._stack.pop()
            if self._sc is not None:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                if parent is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(self.group(parent), parent)
            self.overhead_s += time.perf_counter() - end

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def group(self, name: str) -> str:
        """The job group of the spans called ``name``."""
        return f"{self.run_id}:{name}"

    def stages(self, group: str) -> list:
        """Status-store StageData (last attempt) of every job in a job group."""
        t0 = time.perf_counter()
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = []
        for k in range(jobs.size()):
            job = jobs.apply(k)
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                ids = job.stageIds()
                for s in range(ids.size()):
                    try:
                        out.append(store.lastStageAttempt(ids.apply(s)))
                    except Exception:  # skipped stages have no attempt
                        continue
        self.overhead_s += time.perf_counter() - t0
        return out

    def stage_totals(self, groups: list[str]) -> dict:
        """Executor run time, shuffle and spill summed over the groups' stages."""
        st = [s for g in groups for s in self.stages(g)]
        return {
            "run_s": sum(s.executorRunTime() for s in st) / 1000.0,
            "shuffle_stages": sum(1 for s in st if s.shuffleWriteBytes() > 0 or s.shuffleReadBytes() > 0),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in st),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in st),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in st),
        }

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


# ---------------------------------------------------------- plan metrics --


def _children_of(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_nodes(plan) -> list[tuple[object, int]]:
    """(node, depth) pre-order over an executed plan, descending into
    adaptive plans and codegen stages."""
    out, todo = [], [(plan, 0)]
    while todo:
        node, depth = todo.pop()
        out.append((node, depth))
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append((node.executedPlan(), depth + 1))
            continue
        for child in reversed(_children_of(node)):
            todo.append((child, depth + 1))
    return out


def node_metrics(node) -> dict:
    """SQL metrics of one node, times in seconds."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        kind = m.metricType()
        if kind == "timing":
            v /= 1e3
        elif kind == "nsTiming":
            v /= 1e9
        out[kv._1()] = v
    return out


def qc_plan_layers(qe) -> dict:
    """Scan, Python UDF and codegen layers of an executed QC plan."""
    nodes = plan_nodes(qe.executedPlan())
    names = [n.nodeName() for n, _ in nodes]
    scan = [node_metrics(n) for n, _ in nodes if n.nodeName().startswith("Scan")]
    py_idx = [i for i, nm in enumerate(names) if nm == "ArrowEvalPython"]
    py = [node_metrics(nodes[i][0]) for i in py_idx]
    # pipelineTime of the nearest codegen stage above the ArrowEvalPython
    pipe = 0.0
    if py_idx:
        depth = nodes[py_idx[0]][1]
        for j in range(py_idx[0] - 1, -1, -1):
            if nodes[j][1] < depth:  # an ancestor
                depth = nodes[j][1]
                if names[j].startswith("WholeStageCodegen"):
                    pipe = node_metrics(nodes[j][0]).get("pipelineTime", 0.0)
                    break

    def total(rows, key):
        return sum(r.get(key, 0.0) for r in rows)

    return {
        "plan.arrow_eval_python": len(py_idx),
        "scan.time_s": total(scan, "scanTime"),
        "scan.bytes": total(scan, "filesSize"),
        "scan.rows": total(scan, "numOutputRows"),
        "udf.python_s": total(py, "pythonTotalTime"),
        "udf.boot_s": total(py, "pythonBootTime"),
        "udf.init_s": total(py, "pythonInitTime"),
        "udf.bytes_sent": total(py, "pythonDataSent"),
        "udf.bytes_received": total(py, "pythonDataReceived"),
        "udf.rows": total(py, "pythonNumRowsReceived"),
        "codegen.pipeline_s": pipe,
    }


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)
