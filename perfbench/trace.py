"""Measurement plumbing: in-memory spans, process-tree CPU and memory from
``/proc``, and per-operation readings of Spark's own status stores."""

from __future__ import annotations

import os
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans (name, layer, kind, start, end, parent, op) and counters kept
    in memory. Disabled, ``call`` is a plain call and nothing is kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._stack: list[int] = []

    def call(self, layer: str, kind: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = {
            "id": len(self.spans), "name": getattr(fn, "__qualname__", str(fn)),
            "layer": layer, "kind": kind, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
        }
        self._stack.append(span["id"])
        self.spans.append(span)
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def take_counts(self) -> dict[str, float]:
        out, self.counts = dict(self.counts), defaultdict(float)
        return out

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def self_times(spans: list[dict]) -> dict[tuple[str, str], float]:
    """(layer, kind) -> span time not covered by the span's children."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[tuple[str, str], float] = defaultdict(float)
    for s in spans:
        out[(s["layer"], s["kind"])] += s["end"] - s["start"] - child_time[s["id"]]
    return dict(out)


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_pids(root: int | None = None) -> list[int]:
    procs = _procs()
    return _descend(procs, root or os.getpid())


def _descend(procs: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _cpu) in procs.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (this process, the JVM, Python workers), reaped children included."""
    procs = _procs()
    return sum(procs[p][1] for p in _descend(procs, os.getpid()) if p in procs) / _CLK_TCK


def tree_peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (``VmHWM``) summed over the live process tree, as (every
    process but the JVM, the JVM). The first part is this driver process,
    the Python daemon and its workers."""
    other_kb = jvm_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        if fields.get("Name", "").strip() == "java":
            jvm_kb += kb
        else:
            other_kb += kb
    return other_kb / 1024, jvm_kb / 1024


def take_worker_reads(log_dir: str) -> tuple[int, int]:
    """(files, bytes) the Python workers read from the fixture since the
    last call, from the logs ``worker_io/sitecustomize.py`` appends to;
    the logs are emptied."""
    files = nbytes = 0
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        with open(path) as f:
            counts = [int(x) for x in f.read().split()]
        os.remove(path)
        files += len(counts)
        nbytes += sum(counts)
    return files, nbytes


def jvm_peak_heap_mb(spark) -> float:
    """Sum over the JVM's heap memory pools of each pool's peak use since
    the JVM started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    ) / 1024**2


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}

_ARROW = {
    "time to start Python workers": "arrow.python_boot_s",
    "time to initialize Python workers": "arrow.python_init_s",
    "time to run Python workers": "arrow.python_run_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}


# plan-node descriptions of the two MapInPandas stages of a checkpoint read:
# the per-SST scan maps the file-list frame, the LSM fold is named ``fold``
_SST_SCAN = "<lambda>(path#"
_LSM_FOLD = " fold("


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("1.3 s", "2.0 KiB",
    "100,000", or the "total (min, med, max ...)" form) -> seconds,
    bytes or a count."""
    line = text.strip().splitlines()[-1]
    parts = line.split()
    if not parts:
        return 0.0
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


class SparkStore:
    """Reads the SQL and application status stores for the jobs and SQL
    executions one labelled operation started."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc._jsc.sc().statusStore()
        self._last_job = self._max_job()
        self._last_exec = self._max_exec()

    def _max_job(self) -> int:
        jobs = self.app.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec(self) -> int:
        n = self.sql.executionsCount()
        return self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _new_jobs(self) -> list:
        jobs = self.app.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            out.append(j)
        return out

    def _new_execs(self) -> list:
        n = self.sql.executionsCount()
        out = []
        for i in range(n - 1, -1, -1):
            e = self.sql.executionsList(i, 1).apply(0)
            if e.executionId() <= self._last_exec:
                break
            out.append(e)
        return out

    def _settled(self, timeout: float = 10.0):
        """Wait until the listener has recorded the end of every job and
        SQL execution the operation started."""
        deadline = time.monotonic() + timeout
        while True:
            jobs, execs = self._new_jobs(), self._new_execs()
            done = all(str(j.status()) != "RUNNING" for j in jobs) and all(
                e.completionTime().isDefined() for e in execs)
            if done or time.monotonic() > deadline:
                return jobs, execs
            time.sleep(0.02)

    def collect(self, wall_s: float, slots: int) -> dict[str, float]:
        jobs, execs = self._settled()
        m: dict[str, float] = defaultdict(float)
        m["spark.jobs"] = len(jobs)
        m["spark.sql_executions"] = len(execs)
        widest = None
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sd = self.app.lastStageAttempt(ids.apply(k))
                if str(sd.status()) != "COMPLETE":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += sd.numCompleteTasks()
                m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                m["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["spark.jvm_gc_s"] += sd.jvmGcTime() / 1e3
                key = (sd.numTasks(), sd.executorRunTime())
                if widest is None or key > widest[0]:
                    widest = (key, sd.stageId(), sd.attemptId())
        m["spark.slot_busy_ratio"] = m["spark.executor_run_s"] / max(wall_s * slots, 1e-9)
        m["spark.task_skew"] = self._skew(widest) if widest else 1.0
        for e in execs:
            self._python_nodes(e.executionId(), m)
        self._advance(jobs, execs)
        return dict(m)

    def skip(self) -> None:
        """Move past an operation whose readings are not wanted."""
        self._advance(*self._settled())

    def _advance(self, jobs: list, execs: list) -> None:
        self._last_job = max([self._last_job] + [j.jobId() for j in jobs])
        self._last_exec = max([self._last_exec] + [e.executionId() for e in execs])

    def _skew(self, widest) -> float:
        _key, stage, attempt = widest
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self.app.taskSummary(stage, attempt, qs)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        return max(run.apply(1), 1.0) / max(run.apply(0), 1.0)

    def _python_nodes(self, exec_id: int, m: dict[str, float]) -> None:
        """Python-boundary metrics of the Python-evaluating plan nodes.

        The times are task-summed. Chained Python nodes in one stage run
        their workers at the same time, so a stage counts the largest time
        over its Python nodes, and stages add up; bytes add up over nodes.
        The SST scan and the LSM fold are split out by their UDFs."""
        graph = self.sql.planGraph(exec_id)
        values = self.sql.executionMetrics(exec_id)
        nodes = graph.allNodes()
        stage = _stages(graph)
        stage_max: dict[tuple[str, int], float] = defaultdict(float)
        rows: dict[str, float] = defaultdict(float)
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if not (name.startswith("MapIn") or "Python" in name):
                continue
            desc = node.desc()
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                v = values.get(metric.accumulatorId())
                if not v.isDefined():
                    continue
                value = parse_metric(v.get())
                label = metric.name()
                if label in _ARROW:
                    key = _ARROW[label]
                    if key.endswith("_s"):
                        at = (key, stage[node.id()])
                        stage_max[at] = max(stage_max[at], value)
                    else:
                        m[key] += value
                if label == "time to run Python workers":
                    if _SST_SCAN in desc:
                        m["checkpoint.scan_stage_s"] += value
                    elif _LSM_FOLD in desc:
                        m["checkpoint.fold_stage_s"] += value
                elif label == "number of output rows":
                    # a fold (or an unreused scan) feeding two typed reads runs
                    # once per read; each run covers the whole checkpoint
                    if _SST_SCAN in desc:
                        rows["checkpoint.versions_scanned"] = max(
                            rows["checkpoint.versions_scanned"], value)
                    elif _LSM_FOLD in desc:
                        rows["checkpoint.keys_resolved"] = max(
                            rows["checkpoint.keys_resolved"], value)
        for (key, _stage), value in stage_max.items():
            m[key] += value
        for name, value in rows.items():
            m[name] += value


def _stages(graph) -> dict[int, int]:
    """Plan node id -> a label shared by the nodes of one stage: nodes
    joined by plan edges, cutting every edge out of an exchange."""
    nodes = graph.allNodes()
    names = {nodes.apply(i).id(): nodes.apply(i).name() for i in range(nodes.size())}
    root = {i: i for i in names}

    def find(i: int) -> int:
        while root[i] != i:
            root[i] = root[root[i]]
            i = root[i]
        return i

    edges = graph.edges()
    for k in range(edges.size()):
        edge = edges.apply(k)
        child, parent = edge.fromId(), edge.toId()
        if child in names and parent in names and "Exchange" not in names[child]:
            root[find(child)] = find(parent)
    return {i: find(i) for i in names}
