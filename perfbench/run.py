"""maston-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_dlq --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  Each run starts its own Spark
session on ``local[<cores>]`` through the program's ``build_session``,
feeds the workload's topology one parquet file per micro-batch in a
closed loop (the next batch is fed when the previous one has
committed), checks every batch's output against the generator, and
prints as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  The line before it is the full record,
which is also written under ``.perfbench/records/`` and is what
``perfbench/compare.py`` reads.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (session
build, topology start and the untimed warm-up batches; the first
session build pays the JVM launch), ``rows_per_s`` (input records of
the timed batches over their summed batch time) and ``batch_p50_s``
(median batch time).  ``--trace 1`` reports the per-layer metrics: it
traces every other timed batch, reads engine counters after every
batch, runs the workload's traced-only topologies, then times direct
calls into each layer and reruns the timed topology on one core.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_dlq", "sketch_monitors")
ONE_CORE_BATCHES = 2
DEADLINE_S = 170  # a run that has not finished by then fails without a result

# The end-to-end metric each per-layer metric should move, and on which
# workload; copied into every traced record.  Metrics not listed move
# none (input checks, trace bookkeeping) or are context (CPU, RSS).
SHOULD_MOVE = {
    "validated.decode_rows_per_s": "rows_per_s on ingest_dlq",
    "avro_vec.encode_rows_per_s": "rows_per_s on ingest_dlq",
    "sinks.split_s": "rows_per_s on ingest_dlq",
    "sinks.write_s": "rows_per_s on ingest_dlq",
    "engine.python_worker_share": "rows_per_s on ingest_dlq",
    "engine.python_bytes_per_batch": "rows_per_s on ingest_dlq",
    "validated.json_parse_rows_per_s": "rows_per_s of a JSON topology (none timed)",
    "delta.fold_s": "rows_per_s and batch_p50_s of delta_topology (none timed)",
    "delta.rows_examined_per_batch": "rows_per_s and batch_p50_s of delta_topology (none timed)",
    "delta.emit_ratio": "rows_per_s and batch_p50_s of delta_topology (none timed)",
    "engine.shuffle_bytes_per_batch": "batch_p50_s on sketch_monitors",
    "engine.gc_s_per_batch": "batch_p50_s on both workloads",
    "state.bytes_written_per_batch": "batch_p50_s on sketch_monitors",
    "state.files_written_per_batch": "batch_p50_s on sketch_monitors",
    "state.live_files": "batch_p50_s on sketch_monitors",
    "topology.jobs_per_batch": "batch_p50_s on sketch_monitors",
    "topology.tasks_per_batch": "batch_p50_s on sketch_monitors",
    "sources.offset_s": "batch_p50_s on sketch_monitors",
    "streaming.commit_s": "batch_p50_s on sketch_monitors",
    "evaluation.srm_from_counts_s": "batch_p50_s of srm_monitor_topology (traced only)",
    "sketches.kmv_truncate_s": "batch_p50_s on sketch_monitors",
    "topology.batch_fn_s": "batch_p50_s on both workloads",
    "topology.self_s": "batch_p50_s on both workloads",
    "session.start_s": "setup_s on both workloads",
    "setup.warmup_s": "setup_s on both workloads",
}

# Metrics the traced run could report but this benchmark leaves out,
# with the reason; copied into every record.
NOT_MEASURED = {
    "<module>.<query>_s, <module>.<query>.jobs": "no batch_catalog workload: one warm pass over the "
    "15 headline queries takes about 34 s on 4 cores (72 s cold), too long for the run budget",
    "keyed_delta end to end": "no keyed_delta workload: one delta batch takes about 8 s on 4 cores; "
    "the fold is measured by delta.fold_s on the same batch-plus-saturated-state shape and checked "
    "against the reference fold",
}


def _env(work: str) -> None:
    """Point every process the run starts at the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"  # the host is shared; peak RSS stays under 2 GB
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: each JVM (spark-submit's launcher, then the
    # driver) would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        shlex.quote(f"--driver-java-options=-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def host_facts() -> dict:
    from perfbench.spark_stats import steal_seconds

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "steal_s_start": steal_seconds(),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


class Run:
    def __init__(self, args, work: str):
        from perfbench import workloads

        self.args, self.work = args, work
        self.spark_ref: list = [None]
        self.topos = workloads.topologies(args.workload, args.seed, self.spark_ref)
        self.tracer = None
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}

    def session(self, master=None):
        from maston_spark.session import build_session

        if self.spark_ref[0] is not None:
            self.spark_ref[0].stop()
        t0 = time.perf_counter()
        spark = build_session("perfbench", master=master)
        self.spark_ref[0] = spark
        return spark, time.perf_counter() - t0

    def loop(self, spark, label: str, topo, tracer=None):
        from perfbench.stream import ClosedLoop

        out = os.path.join(self.work, label, topo.name, "out")
        topo.seen.clear()
        return ClosedLoop(spark, os.path.join(self.work, label, topo.name), topo.name, topo.schema,
                          topo.make_batch, lambda df, chk: topo.start(df, chk, out, tracer)), out

    def execute(self) -> dict:
        from perfbench.stream import EngineStats, Tracer, median
        from perfbench.workloads import TRACED_ONLY_BATCHES

        traced = bool(self.args.trace)
        self.tracer = Tracer() if traced else None
        topos = [t for t in self.topos if traced or not t.traced_only]
        for topo in topos:  # input generation is not set-up
            for b in range(topo.warmup):
                topo.make_batch(b)
        per_topo, attempted, failed = {}, 0, 0
        spark, setup = self.session()
        self.record["session_start_s"] = setup
        warm = 0.0
        for topo in topos:
            t0 = time.perf_counter()
            loop, out = self.loop(spark, "run", topo, self.tracer)
            warm_wall = loop.run(n=topo.warmup)
            if not topo.traced_only:  # set-up is that of the timed topology
                warm += warm_wall
                setup += time.perf_counter() - t0
            stats = EngineStats(spark, loop.query) if traced else None
            if topo.traced_only:
                loop.run(n=TRACED_ONLY_BATCHES, tracer=self.tracer, stats=stats)
            else:
                loop.run(seconds=self.args.seconds, tracer=self.tracer, stats=stats)
            loop.stop()
            t0 = time.perf_counter()
            bad = topo.check(out, len(loop.batches))
            self.record[f"check_s.{topo.name}"] = time.perf_counter() - t0
            attempted += len(loop.batches)
            failed += len(bad)
            per_topo[topo.name] = {
                "warmup": loop.batches[:topo.warmup],
                "timed": loop.batches[topo.warmup:],
                "failed_batches": bad,
            }
        self.record.update(setup_s=setup, warmup_s=warm, topologies=per_topo)

        timed = per_topo[self.topos[0].name]["timed"]
        e2e = {
            "setup_s": (setup, "s"),
            "rows_per_s": (sum(b["rows"] for b in timed) / sum(b["triggerExecution"] for b in timed), "1/s"),
            "batch_p50_s": (median([b["triggerExecution"] for b in timed]), "s"),
        }
        self.record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        metrics = e2e
        if traced:
            metrics, checks = self.layers(spark, per_topo, warm)
            self.record["layer_checks"] = checks
            self.record["should_move"] = SHOULD_MOVE
            attempted += len(checks)
            failed += sum(not ok for ok in checks.values())
            self.record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layers(self, spark, per_topo, warm: float) -> tuple[dict, dict]:
        from perfbench import layers, spark_stats
        from perfbench.stream import median, tail

        # stream metrics describe the timed topology; every topology's
        # median batch time goes into the record
        main = per_topo[self.topos[0].name]["timed"]
        tb = [b for b in main if b["traced"]]

        def per_batch(key):
            return sum(b[key] for b in tb) / len(tb)

        tail_s, tail_pct = tail([b["triggerExecution"] for b in main])
        self.record["batch_tail_percentile"] = tail_pct
        self.record["timed_batches"] = len(main)
        m = {
            "topology.batch_fn_s": (median([b["addBatch"] for b in tb]), "s"),
            "topology.self_s": (median([b["addBatch"] - b["sink_s"] for b in tb]), "s"),
            "sinks.write_s": (median([b["sink_s"] for b in tb]), "s"),
            "sources.offset_s": (median([b["latestOffset"] + b["getBatch"] for b in tb]), "s"),
            "streaming.commit_s": (median([b["walCommit"] + b["commitOffsets"] for b in tb]), "s"),
            "topology.jobs_per_batch": (per_batch("jobs"), "count"),
            "topology.tasks_per_batch": (per_batch("tasks"), "count"),
            # a share, not seconds: the sketch workload runs no Python, so
            # seconds would read exactly 0 on every run
            "engine.python_worker_share": (sum(b["python_worker_s"] for b in tb)
                                           / sum(b["triggerExecution"] for b in tb), "ratio"),
            "engine.python_bytes_per_batch": (per_batch("python_bytes"), "B"),
            "engine.shuffle_bytes_per_batch": (per_batch("shuffle_bytes"), "B"),
            "engine.gc_s_per_batch": (per_batch("gc_s"), "s"),
            "engine.cpu_s_per_batch": (per_batch("cpu_s"), "s"),
            "state.bytes_written_per_batch": (per_batch("state_bytes_written"), "B"),
            "state.files_written_per_batch": (per_batch("state_files_written"), "count"),
            "state.live_files": (float(tb[-1]["state_live_files"]), "count"),
            "stream.batch_tail_s": (tail_s, "s"),
            "stream.rows_per_s": (sum(b["rows"] for b in main) / sum(b["triggerExecution"] for b in main), "1/s"),
            "trace.overhead_pct": (100.0 * (median([b["triggerExecution"] for b in main if b["traced"]])
                                            / median([b["triggerExecution"] for b in main if not b["traced"]])
                                            - 1.0), "%"),
            "session.start_s": (self.record["session_start_s"], "s"),
            "setup.warmup_s": (warm, "s"),
        }
        self.record["engine.python_worker_s_per_batch"] = per_batch("python_worker_s")
        for name, v in per_topo.items():
            self.record[f"topology.{name}.batch_p50_s"] = median([b["triggerExecution"] for b in v["timed"]])
        m["engine.rss_peak_mb"] = (spark_stats.peak_rss_mb(spark_stats.jvm_pid(spark)), "MB")
        units = {"validated.decode_rows_per_s": "1/s", "avro_vec.encode_rows_per_s": "1/s",
                 "validated.json_parse_rows_per_s": "1/s", "validated.error_share": "ratio",
                 "delta.rows_examined_per_batch": "count", "delta.emit_ratio": "ratio"}
        direct, checks = layers.measure(spark, self.args.seed)
        for k, v in direct.items():
            m[k] = (v, units.get(k, "s"))
        m["engine.speedup_vs_1core"] = (self.one_core() / median([b["triggerExecution"] for b in main]),
                                        "ratio")
        return m, checks

    def one_core(self) -> float:
        """Median batch time of the first topology rerun on ``local[1]``,
        after one warm-up batch (the JVM is already warm)."""
        from perfbench.stream import median

        spark, _ = self.session(master="local[1]")
        loop, _ = self.loop(spark, "one_core", self.topos[0])
        loop.run(n=1 + ONE_CORE_BATCHES)
        loop.stop()
        return median([b["triggerExecution"] for b in loop.batches[1:]])

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for both."""
        from pyspark import SparkContext

        spark = self.spark_ref[0]
        if spark is None:
            return
        for q in spark.streams.active:
            q.stop()
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _deadline(_signum, _frame):
    raise TimeoutError(f"run did not finish within {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "maston_spark", "session.py")):
        print(f"perfbench: no maston_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    from perfbench.spark_stats import steal_seconds

    facts = host_facts()
    t0 = time.perf_counter()
    run = Run(args, work)
    try:
        try:
            result = run.execute()
            spark = run.spark_ref[0]
            facts.update(spark=spark.version,
                         java=spark._jvm.java.lang.System.getProperty("java.version"))
        finally:
            t_close = time.perf_counter()
            run.close()
            facts["close_s"] = time.perf_counter() - t_close
    finally:
        shutil.rmtree(work, ignore_errors=True)
    facts["steal_s"] = steal_seconds() - facts.pop("steal_s_start")
    facts["wall_s"] = time.perf_counter() - t0
    record = {**run.record, "host": facts, "not_measured": NOT_MEASURED, "result": result}

    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if run.tracer is not None:
        run.tracer.dump(os.path.join(records, f"{tag}.spans.jsonl"))
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
