"""Engine counters read from outside the program: Spark's status tracker
and SQL status store, the JVM's GC beans, and /proc.

Every reader takes a watermark and returns what happened since, so the
benchmark can read once per micro-batch and never depend on how many
jobs or executions Spark retains.
"""

from __future__ import annotations

import os
import re
import time

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

# SQL metric name -> counter name; sums over every plan node.
SQL_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "shuffle bytes written": "shuffle_bytes",
}


def parse_metric(text: str) -> float:
    """Parse a formatted SQL metric (``"2.6 s"``, ``"420.5 KiB"``, or the
    ``"total (min, med, max ...)\\n225.5 KiB (...)"`` form) to base units."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class JobCounter:
    """Jobs and tasks of one job group (a streaming query's ``runId``)."""

    def __init__(self, spark, group: str):
        self.tracker = spark.sparkContext.statusTracker()
        self.group = group
        self.seen: set[int] = set(self.tracker.getJobIdsForGroup(group))

    def delta(self) -> tuple[int, int]:
        ids = set(self.tracker.getJobIdsForGroup(self.group)) - self.seen
        self.seen |= ids
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for s in list(info.stageIds) if info else []:
                st = self.tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        return len(ids), tasks


class SqlCounter:
    """Sums of :data:`SQL_METRICS` over SQL executions started since the
    last call, read from the SQL status store once they complete."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.offset = 0
        self.next_id = max((e.executionId() for e in self._executions()), default=-1) + 1

    def _executions(self):
        # executions are listed in id order; start a little before the
        # last offset in case retention evicted some in between
        lst = self.store.executionsList(max(0, self.offset - 16), 1 << 20)
        out = [lst.apply(i) for i in range(lst.size())]
        self.offset = max(0, self.offset - 16) + len(out)
        return out

    def delta(self, timeout: float = 5.0) -> dict[str, float]:
        deadline = time.monotonic() + timeout
        while True:
            new = [e for e in self._executions() if e.executionId() >= self.next_id]
            if all(e.completionTime().isDefined() for e in new) or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        out = {v: 0.0 for v in SQL_METRICS.values()}
        for e in new:
            self.next_id = max(self.next_id, e.executionId() + 1)
            names = {}
            mets = e.metrics()
            for j in range(mets.size()):
                m = mets.apply(j)
                if m.name() in SQL_METRICS:
                    names[m.accumulatorId()] = SQL_METRICS[m.name()]
            if not names:
                continue
            it = self.store.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                key = names.get(kv._1())
                if key:
                    out[key] += parse_metric(kv._2())
        out["executions"] = float(len(new))
        return out


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """CPU of ``root`` and every live descendant, including children they
    have already reaped, so Python workers that came and went count."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # ppid, then utime stime cutime cstime
            stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += stats.get(pid, (0, 0))[1]
        stack.extend(kids.get(pid, []))
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
