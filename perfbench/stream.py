"""Closed-loop driver for one streaming topology, and the traced run's
span and counter bookkeeping.

The loop writes one parquet file per micro-batch into a staging
directory, renames it into the directory Spark's file stream source
reads (``maxFilesPerTrigger=1``), and waits until that batch has
committed before feeding the next.  Batch ``b`` is therefore file
``b`` and Spark's ``batchId`` ``b``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

import pyarrow.parquet as pq

from perfbench import spark_stats as S

PHASES = ("triggerExecution", "addBatch", "latestOffset", "getBatch", "walCommit", "commitOffsets")


class Tracer:
    """Spans kept in memory, written out when the run ends.  ``active``
    is switched per batch; sink wrappers record nothing while it is off.

    A span has an id, a name, its parent's id, and either a start and end
    (epoch seconds) or, for the phases Spark reports, a duration in ms
    under a parent whose start is the trigger's start."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def wrap(self, name: str, fn):
        def wrapped(*args):
            if not self.active:
                return fn(*args)
            t0 = time.time()
            try:
                return fn(*args)
            finally:
                self._open.append({"name": name, "start": t0, "end": time.time()})

        return wrapped

    def close_batch(self, topology: str, batch: int, progress: dict) -> float:
        """Attach the sink spans recorded during ``batch`` under its
        ``addBatch`` span; return their summed duration."""
        parent = f"{topology}/{batch}"
        dur = progress["durationMs"]
        start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
        self.spans.append({"id": parent, "name": "triggerExecution", "parent": None, "start": start,
                           "end": start + dur.get("triggerExecution", 0) / 1000.0})
        for ph in PHASES[1:]:
            self.spans.append({"id": f"{parent}/{ph}", "name": ph, "parent": parent,
                               "ms": dur.get(ph, 0)})
        sink_s = 0.0
        for sp in self._open:
            sink_s += sp["end"] - sp["start"]
            self.spans.append({"id": f"{parent}/{sp['name']}", "name": sp["name"],
                               "parent": f"{parent}/addBatch", "start": sp["start"], "end": sp["end"]})
        self._open = []
        return sink_s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class ClosedLoop:
    """One running topology fed one file per micro-batch."""

    def __init__(self, spark, work: str, name: str, schema: str, make_batch, start):
        from maston_spark.sources import file_stream

        self.name, self.make_batch = name, make_batch
        self.src, self.stage, self.chk = (os.path.join(work, d) for d in ("src", "stage", "chk"))
        for d in (self.src, self.stage):
            os.makedirs(d)
        df = file_stream(spark, self.src, "parquet", schema=schema, max_files_per_trigger=1)
        self.query = start(df, self.chk)
        self.next = 0
        self.batches: list[dict] = []
        self._state_seen: dict[str, int] = {}

    def step(self) -> dict:
        """Feed batch ``next`` and return its streaming progress."""
        b = self.next
        fname = f"b{b:06d}.parquet"
        pq.write_table(self.make_batch(b), os.path.join(self.stage, fname))
        os.rename(os.path.join(self.stage, fname), os.path.join(self.src, fname))
        self.query.processAllAvailable()
        deadline = time.monotonic() + 30.0
        while True:
            for p in reversed(self.query.recentProgress):
                d = p if isinstance(p, dict) else json.loads(p.json)
                if d.get("batchId") == b:
                    self.next += 1
                    return d
            if time.monotonic() > deadline:
                raise RuntimeError(f"{self.name}: no progress for batch {b}")
            time.sleep(0.005)

    def run(self, n: int | None = None, seconds: float | None = None, tracer=None, stats=None) -> float:
        """Run ``n`` batches, or batches until ``seconds`` have passed.
        With a tracer and engine stats, every second batch of this call
        is traced (at least one) and every batch's counters are read, so
        each traced batch's counters are its own.  Returns wall time."""
        t0 = time.perf_counter()
        traced_run = tracer is not None and stats is not None
        i = 0
        while (n is not None and i < n) or (
            seconds is not None and (time.perf_counter() - t0 < seconds or (traced_run and i < 2))
        ):
            traced = traced_run and i % 2 == 1
            if tracer is not None:
                tracer.active = traced
            prog = self.step()
            rec = {"batch": prog["batchId"], "rows": prog.get("numInputRows", 0), "traced": traced,
                   **{ph: prog["durationMs"].get(ph, 0) / 1000.0 for ph in PHASES}}
            if traced_run:
                tracer.active = False
                rec["sink_s"] = tracer.close_batch(self.name, prog["batchId"], prog)
                counters = {**stats.read(), **self._state_delta()}
                if traced:
                    rec.update(counters)
            self.batches.append(rec)
            i += 1
        return time.perf_counter() - t0

    def _state_delta(self) -> dict:
        cur = {}
        for d in os.listdir(self.chk) if os.path.isdir(self.chk) else []:
            if d.endswith("_state"):
                cur.update(_files(os.path.join(self.chk, d)))
        new = {p: s for p, s in cur.items() if p not in self._state_seen}
        self._state_seen = cur
        return {
            "state_files_written": len([p for p in new if not p.endswith(".crc")]),
            "state_bytes_written": sum(new.values()),
            "state_live_files": len([p for p in cur if not p.endswith(".crc")]),
        }

    def stop(self) -> None:
        self.query.stop()


class EngineStats:
    """Per-batch engine counters for one query: jobs and tasks of its
    job group, SQL metrics, GC time and process-tree CPU."""

    def __init__(self, spark, query):
        self.spark = spark
        self.jobs = S.JobCounter(spark, str(query.runId))
        self.sql = S.SqlCounter(spark)
        self.pid = S.jvm_pid(spark)
        self.gc = S.gc_seconds(spark)
        self.cpu = self._cpu()

    def _cpu(self) -> float:
        t = os.times()
        return S.tree_cpu_seconds(self.pid) + t.user + t.system

    def read(self) -> dict:
        jobs, tasks = self.jobs.delta()
        out = {"jobs": jobs, "tasks": tasks, **self.sql.delta()}
        gc, cpu = S.gc_seconds(self.spark), self._cpu()
        out["gc_s"], out["cpu_s"] = gc - self.gc, cpu - self.cpu
        self.gc, self.cpu = gc, cpu
        return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; the median when there are too few samples."""
    s = sorted(xs)
    if len(s) <= 10:
        return median(s), 50.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)
