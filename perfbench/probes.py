"""Measurement helpers for the benchmark: spans, Spark SQL metrics, host stats.

Everything here observes the program from outside: spans wrap calls the
benchmark makes into public functions, and operator metrics are read back
from Spark's own SQL status store after an action. Nothing is traced inside
``geoclimate_spark``.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from statistics import median

# Spark renders SQL metrics as text; the raw accumulator is preferred and this
# parser is the fallback when the accumulator has already been collected.
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_VALUE = re.compile(r"^(-?[\d,.]+)\s*([A-Za-z]*)")


def _parse_metric(text: str, kind: str) -> float | None:
    """Shown text back to the raw accumulator's unit (bytes, ms or ns)."""
    line = text.strip().splitlines()[-1]  # "total (min, med, max)\n<total> (...)"
    m = _VALUE.match(line)
    if not m:
        return None
    v = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
    return v * 1e6 if kind == "nsTiming" else v


class Tracer:
    """Spans (name, start, end, parent, repetition) kept in memory, plus the
    SQL executions each repetition ran. ``enabled=False`` records nothing, so
    untraced runs pay only a branch per call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, str | None, int]] = []
        self.rep = -1
        self._stack: list[str] = []
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), parent, self.rep))
            self._stack.pop()

    def median_s(self, name: str) -> float:
        d = [end - start for n, start, end, _, _ in self.spans if n == name]
        return median(d) if d else 0.0

    # ------------------------------------------------------------ SQL metrics
    def last_execution_id(self) -> int:
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def operators(self, after_id: int) -> list[dict]:
        """Every plan node of every SQL execution newer than ``after_id``:
        ``{"name", "desc", "metrics": {metric name: raw value}}``. Sizes are
        bytes, ``timing`` metrics milliseconds, ``nsTiming`` nanoseconds."""
        out = []
        execs = self._store.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= after_id:
                continue
            text = self._store.executionMetrics(eid)
            it = self._store.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                metrics = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    sm = mi.next()
                    acc = self._acc.get(sm.accumulatorId())
                    if acc.isDefined():
                        metrics[sm.name()] = float(acc.get().value())
                    else:
                        shown = text.get(sm.accumulatorId())
                        v = (_parse_metric(shown.get(), sm.metricType())
                             if shown.isDefined() else None)
                        if v is not None:
                            metrics[sm.name()] = v
                out.append({"name": node.name(), "desc": node.desc(),
                            "metrics": metrics})
        return out


def metric_sum(ops: list[dict], node_prefix: str, metric: str,
               where=lambda op: True) -> float:
    return float(sum(op["metrics"].get(metric, 0.0) for op in ops
                     if op["name"].startswith(node_prefix) and where(op)))


# ------------------------------------------------------------------ host side
def cpu_sample() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    return 100.0 * (b[1] - a[1]) / max(1, b[0] - a[0])


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``: children, their children, and so on."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(c) for c in f.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_peak_rss_mb(spark) -> float:
    return _hwm_mb(jvm_pid(spark))


def python_peak_rss_mb(spark) -> float:
    """Peak RSS of the driver's Python process and of every Python worker the
    JVM forked (the pyspark daemon and its workers)."""
    return max([_hwm_mb(os.getpid())] + [_hwm_mb(p) for p in descendants(jvm_pid(spark))])


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())))


def storage_after(spark) -> tuple[int, int]:
    """(cached RDD blocks, bytes in memory + on disk) across all cached RDDs."""
    blocks = size = 0
    for info in spark._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size


def stages_and_tasks(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            stages += 1
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return stages, tasks
