"""Spans and Spark-side counters, read from outside the engine.

``Tracer`` keeps spans in memory (name, start, end, parent); a disabled
tracer records nothing, so untraced passes pay only a no-op context manager.
``SparkCounters`` reads Spark's own bookkeeping once a step has finished:
job / stage / task counts of a job group from ``statusTracker``, and the
SQL metrics of every SQL execution the step started, from the SQL status
store the SQL listener fills (it runs with the UI disabled too).
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager


# a pass or the set-up during which the hypervisor took more than this
# share of the host's CPU time is noisy: warm_s leaves noisy passes out
STEAL_LIMIT = 0.03
MIN_WARM = 2  # quiet warm passes an untraced run needs
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user nice system idle iowait irq
    softirq steal ...) in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_ticks`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command (state, ppid,
    pgrp, session, ...) of every process still in /proc whose session is
    ``sid``, zombies included."""
    out = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, ValueError):
            continue
        if len(fields) > 14 and int(fields[3]) == sid:
            out[int(pid)] = fields
    return out


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the driver, the
    JVM and the Python workers, with the children each has reaped
    (utime, stime, cutime, cstime)."""
    return sum(int(x) for f in session_stats(os.getsid(0)).values() for x in f[11:15]) / CLK_TCK


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def record(self, name: str, start: float, end: float) -> None:
        """A finished span, as a child of the span now open."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
                               "name": name, "start": start, "end": end})


def self_times(spans: list[dict]) -> list[dict]:
    """Each span's duration minus the part its direct children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [
        {"id": s["id"], "name": s["name"], "dur_s": s["end"] - s["start"],
         "self_s": s["end"] - s["start"] - child[s["id"]]}
        for s in spans
    ]


# SQL metric display names -> (layer key, how to combine across plan nodes)
SQL_METRICS = {
    "shuffle bytes written": ("shuffle_write_bytes", "sum"),
    "spill size": ("spill_bytes", "sum"),
    "peak memory": ("peak_mem_bytes", "max"),
    "number of output rows": ("max_rows_out", "max"),
    "time to start Python workers": ("python_boot_s", "sum"),
    "time to initialize Python workers": ("python_init_s", "sum"),
    "time to run Python workers": ("python_total_s", "sum"),
    "data sent to Python workers": ("python_bytes_sent", "sum"),
    "data returned from Python workers": ("python_bytes_received", "sum"),
}
SCAN_METRICS = {
    "scan time": "scan_s",
    "number of output rows": "scan_rows",
    "size of files read": "scan_bytes",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: ``1,234``, ``2.3 KiB``,
    ``40 ms``, or ``total (min, med, max ...)\\n<total> (...)``. Sizes come
    back in bytes and times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._last_execution()

    def _drain(self) -> None:
        # both status stores are filled by listeners on the event bus
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Start a new window for ``sql``: forget executions so far."""
        self._drain()
        self.seen = self._last_execution()

    def _last_execution(self) -> int:
        ex = self.store.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def jobs(self, group: str) -> dict:
        self._drain()
        st = self.sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        stages = [s for info in map(st.getJobInfo, ids) if info for s in info.stageIds]
        tasks = sum(info.numTasks for info in map(st.getStageInfo, stages) if info)
        return {"jobs": len(ids), "stages": len(stages), "tasks": tasks}

    def sql(self) -> dict:
        """Operator metrics summed (or maxed) over the SQL executions started
        since the previous call."""
        self._drain()
        ex = self.store.executionsList()
        ids = []
        for i in range(ex.size() - 1, -1, -1):
            eid = ex.apply(i).executionId()
            if eid <= self.seen:
                break
            ids.append(eid)
        out = {k: 0.0 for k, _ in SQL_METRICS.values()}
        out.update({k: 0.0 for k in SCAN_METRICS.values()})
        for eid in ids:
            vals = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                scan = node.name().startswith("Scan ")
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    name = m.name()
                    if name not in SQL_METRICS and not (scan and name in SCAN_METRICS):
                        continue
                    raw = vals.get(m.accumulatorId())
                    if not raw.isDefined():
                        continue
                    v = parse_metric(raw.get())
                    if name in SQL_METRICS:
                        key, how = SQL_METRICS[name]
                        out[key] = max(out[key], v) if how == "max" else out[key] + v
                    if scan and name in SCAN_METRICS:
                        out[SCAN_METRICS[name]] += v
        if ids:
            self.seen = max(ids)
        return out
