"""Measurement plumbing for the elevation-join benchmark.

Everything here observes the program from outside: spans are taken around
public calls, Spark's own accounting is read from the driver's status store
and from the executed plans after each action, and memory is sampled from
``/proc``. Nothing here launches a Spark job (the self-test checks this).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

# SQL metric keys of the Python-runner exec nodes (PythonSQLMetrics);
# timings are milliseconds summed over tasks, sizes are bytes.
PYTHON_METRICS = (
    "pythonTotalTime",
    "pythonBootTime",
    "pythonInitTime",
    "pythonDataSent",
    "pythonDataReceived",
)


def median(values):
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans: (run_id, name, start, end, parent). With tracing
    off, ``span`` only yields, so untraced runs pay nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "run_id": self.run_id,
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled from /proc on a daemon thread.

    A child the JVM forks to run a shell command reports the JVM's whole
    RSS until it execs; such un-exec'd copies of the JVM are skipped, or
    one fork would read as a second JVM."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        # {executable name: [processes, bytes]} at the peak
        self.peak_by_exe: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self):
        tree = process_tree(os.getpid())
        exe = {}
        for pid in tree:
            try:
                exe[pid] = os.readlink(f"/proc/{pid}/exe")
            except OSError:
                exe[pid] = None
        by_exe: dict = {}
        for pid, ppid in tree.items():
            if exe[pid] and exe[pid] == exe.get(ppid) and exe[pid].endswith("/java"):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
            entry = by_exe.setdefault(os.path.basename(exe[pid] or "?"), [0, 0])
            entry[0] += 1
            entry[1] += rss
        total = sum(b for _n, b in by_exe.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_exe = total, by_exe


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return fields[7], sum(fields)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and its live descendants,
    including the reaped children each of them has waited for (the short
    shell commands the JVM forks)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


class Clock:
    """Wall time, CPU time of this process tree and the host's steal share
    over an interval. On a shared VM the hypervisor takes vCPUs away from
    the guest (steal); that time shows in wall time but not in CPU time."""

    def __init__(self):
        self.wall0 = time.perf_counter()
        self.cpu0 = tree_cpu_s(os.getpid())
        self.ticks0 = host_ticks()

    def read(self) -> dict:
        steal, total = host_ticks()
        return {
            "wall_s": time.perf_counter() - self.wall0,
            "cpu_s": tree_cpu_s(os.getpid()) - self.cpu0,
            "steal": (steal - self.ticks0[0]) / max(total - self.ticks0[1], 1),
        }


def process_tree(root: int) -> dict:
    """{pid: parent pid} for `root` and all its live descendants, from the
    ppid field of /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the comm field may contain spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = {root: None}, [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, ()):
            tree[c] = parent
            todo.append(c)
    return tree


class SparkProbe:
    """Reads Spark's own accounting for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def drain(self):
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs of the last action."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_count(self) -> int:
        self.drain()
        return self._jsc.statusStore().jobsList(self._gw.jvm.java.util.ArrayList()).size()

    def group_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, executor time, shuffle and spill bytes, the
        task skew of the longest stage, and stage wall time by call site,
        for every job launched under `group`."""
        self.drain()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        no_status = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        quantiles = self._gw.new_array(self._gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "task_skew": 1.0,
            "stage_wall_by_site": {},
        }
        longest = -1
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numTasks()
                out["run_s"] += d.executorRunTime() / 1e3
                out["cpu_s"] += d.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                if d.submissionTime().isDefined() and d.completionTime().isDefined():
                    wall = (
                        d.completionTime().get().getTime()
                        - d.submissionTime().get().getTime()
                    ) / 1e3
                    site = d.name()
                    out["stage_wall_by_site"][site] = out["stage_wall_by_site"].get(site, 0.0) + wall
                if d.executorRunTime() > longest:
                    summary = store.taskSummary(sid, d.attemptId(), quantiles)
                    if summary.isDefined():
                        rt = summary.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        longest = d.executorRunTime()
                        out["task_skew"] = mx / med if med > 0 else 1.0
        return out

    def plan_metrics(self, df) -> dict:
        """Sum the Python-runner SQL metrics over the executed (AQE final)
        plan of an action already run on `df`. Checkpointed sub-plans show
        as ``Scan ExistingRDD`` leaves and are not descended into."""
        totals = {k: 0 for k in PYTHON_METRICS}
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # its metrics belong to the exchange it reuses
            metrics = node.metrics()
            for key in PYTHON_METRICS:
                m = metrics.get(key)
                if m.isDefined():
                    totals[key] += m.get().value()
            children = node.children()
            for i in range(children.size()):
                todo.append(children.apply(i))
        return totals

    def local_fs_bytes(self) -> tuple[int, int]:
        """(read, written) bytes through the JVM's Hadoop ``file://``
        filesystem since start: binaryFile tile scans and parquet I/O go
        through it, cached frames and shuffle files do not."""
        read = written = 0
        for st in self._gw.jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics():
            if st.getScheme() == "file":
                read += st.getBytesRead()
                written += st.getBytesWritten()
        return read, written


class Groups:
    """Job-group naming for a traced run: each public call gets its own
    group, so every stage it launches (including eager pre-pass jobs inside
    ``elevation_join``) is attributed to it."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        self._n += 1
        name = f"{label}#{self._n}"
        self.sc.setJobGroup(name, label, interruptOnCancel=False)
        try:
            yield name
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
