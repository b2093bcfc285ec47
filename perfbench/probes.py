"""Measurement helpers: host counters, process memory, Spark's own metrics,
and the span recorder of the traced run.

Spark metrics come from two sources that both work with
``spark.ui.enabled=false``: the status store, read per job group, and the
SQL metrics of an executed physical plan.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

# --- host -------------------------------------------------------------------


def calib_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python loop: a contended host shows here."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already inside user
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


# --- process memory ----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` (the JVM's Python daemon and its
    forked workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out: set[int] = set()
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), []):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and every live process below
    it have used, including what their exited children used. Time the host
    steals from the guest is not in it."""
    total = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of the driver, the JVM, and the Python
    workers below the JVM (summed), in MB."""
    hwm = lambda p: _status_kb(p, "VmHWM") / 1024  # noqa: E731
    return {
        "driver": hwm(os.getpid()),
        "jvm": hwm(jvm_pid),
        "workers": sum(hwm(p) for p in descendants(jvm_pid)),
    }


# --- Spark status store --------------------------------------------------------

_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("inputBytes", "input_bytes", 1),
    ("outputBytes", "output_bytes", 1),
)


def drain_listener(spark) -> None:
    """Status-store updates arrive through the listener bus asynchronously;
    wait until the events of finished actions are applied."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks and summed stage metrics of one job group, plus
    the worst max/median task-duration ratio over its multi-task stages."""
    sc = spark.sparkContext
    drain_listener(spark)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "max_task_over_median": 1.0}
    out.update({name: 0.0 for _, name, _ in _STAGE_FIELDS})
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            for attr, name, scale in _STAGE_FIELDS:
                out[name] += getattr(sd, attr)() * scale
            if sd.numTasks() > 1:
                summary = store.taskSummary(sid, sd.attemptId(), q)
                if summary.isDefined():
                    dur = summary.get().duration()
                    med, mx = dur.apply(0), dur.apply(1)
                    if med > 0:
                        out["max_task_over_median"] = max(
                            out["max_task_over_median"], mx / med
                        )
    return out


# --- SQL metrics of an executed plan ----------------------------------------------

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(df) -> dict[tuple[str, str], float]:
    """(node name, metric name) -> value summed over the executed plan of
    ``df``, descending through adaptive stages and into cached relations.
    Times are in seconds, sizes in bytes."""
    out: dict[tuple[str, str], float] = {}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            key = (node.nodeName(), kv._1())
            out[key] = out.get(key, 0.0) + m.value() * _SCALE.get(m.metricType(), 1)
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


# --- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans {name, start, end, parent, run}; each span also runs
    its actions under a Spark job group of the same id, so its Spark metrics
    can be read back. Written out once, at the end of the traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run = ""

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run}/{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["seconds"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def stats(self, rec: dict) -> dict:
        """Spark metrics of the jobs a span ran itself (not its children)."""
        return group_stats(self.spark, rec["group"])

    def report(self) -> list[dict]:
        """Spans with duration and self time (duration minus the part its
        children cover; children of one span never overlap here)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["seconds"]
        return [{k: s[k] for k in ("id", "name", "run", "parent", "start", "end")}
                | {"duration_s": s["seconds"], "self_s": s["seconds"] - child[s["id"]]}
                for s in self.spans]
