"""The benchmark's workloads: how each one feeds its topologies, what it
counts as an operation, and how it checks the program's output.

A workload lists its topologies in run order, back to back in one Spark
session.  Each gets a fresh checkpoint and state and a few untimed
warm-up batches.  The first is then timed for the run's seconds; the
others run a fixed number of batches in the traced run only.  One batch
is one operation; a batch whose output does not match the generator's
expectation counts as failed.
"""

from __future__ import annotations

import functools
import hashlib
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from perfbench import gen


@dataclass
class Topology:
    name: str
    schema: str
    warmup: int  # untimed batches before the timed phase
    make_batch: Callable  # batch index -> pyarrow Table
    start: Callable  # (stream df, checkpoint, out dir, tracer) -> StreamingQuery
    check: Callable  # (out dir, batches processed) -> list of failed batch ids
    traced_only: bool = False  # runs a fixed number of batches, in the traced run only
    seen: dict = field(default_factory=dict)  # results a sink collected, by batch id


def _wrap(tracer, name: str, fn):
    """``fn`` timed as span ``name`` in a traced run, unwrapped otherwise."""
    return tracer.wrap(name, fn) if tracer else fn


def _parquet_sink(path):
    def write(df):
        df.write.mode("append").parquet(path)

    return write


def _digest(arr) -> str | None:
    """sha256 of a binary array's values laid end to end."""
    if arr.null_count:
        return None
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bounds = np.frombuffer(arr.buffers()[1], dtype=width)[arr.offset:arr.offset + len(arr) + 1]
    return hashlib.sha256(memoryview(arr.buffers()[2])[bounds[0]:bounds[-1]]).hexdigest()


def _read(path, columns):
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet").to_table(columns=columns)


# --- ingest_dlq ---------------------------------------------------------


class IngestInputs:
    """Caches each generated ingest batch's planted corruption and the
    digest of its original bytes, in offset order."""

    def __init__(self, seed: int, rows: int):
        self.seed, self.rows = seed, rows
        self.kind: dict[int, np.ndarray] = {}
        self.digest: dict[int, str] = {}
        self.tables: dict[int, object] = {}

    def batch(self, b: int):
        if b not in self.tables:
            ib = gen.IngestBatch(self.seed, b, self.rows)
            self.kind[b] = ib.kind
            self.digest[b] = hashlib.sha256(b"".join(ib.value)).hexdigest()
            self.tables[b] = ib.table()
        return self.tables[b]


def ingest_topology(seed: int, rows: int) -> Topology:
    from maston_spark.queries.avro_q import AVRO_SCHEMA

    gen.check_avro_schema(AVRO_SCHEMA)
    inputs = IngestInputs(seed, rows)

    def start(df, chk, out, tracer):
        from maston_spark.streaming.topology import simple_validated_topology
        from maston_spark.validated import safe_serialize_avro

        return simple_validated_topology(
            df,
            AVRO_SCHEMA,
            app_id="perfbench-ingest",
            checkpoint=chk,
            write_valid=_wrap(tracer, "sinks.write_valid", _parquet_sink(os.path.join(out, "valid"))),
            write_error=_wrap(tracer, "sinks.write_error", _parquet_sink(os.path.join(out, "dlq"))),
            on_metrics=_wrap(tracer, "sinks.write_metrics", lambda bid, counts: None),
            value_format="avro",
            serialize=lambda d: safe_serialize_avro(d, AVRO_SCHEMA, gen.SCHEMA_ID),
        )

    def check(out, n_batches):
        """Per batch: the DLQ holds exactly the planted corrupt offsets,
        each with the 11 ``maston.error.*`` headers; every offset comes
        out once; and the output bytes in offset order hash to the
        generator's original bytes (valid records re-encode to their
        input, DLQ records keep it)."""
        from maston_spark import errors as E

        valid = _read(os.path.join(out, "valid"), ["offset", "value_out"])
        dlq = _read(os.path.join(out, "dlq"), ["offset", "value_out", "headers"])
        if valid is None or dlq is None:
            return list(range(n_batches))
        hdr = dlq.column("headers").combine_chunks()
        keys = pc.list_flatten(hdr).field("key")
        parent = pc.list_parent_indices(hdr).to_numpy()

        def per_row(mask):
            return np.bincount(parent[mask.to_numpy(zero_copy_only=False)], minlength=dlq.num_rows)

        good = per_row(pc.starts_with(keys, "maston.error.")) == len(E.ALL_ERROR_HEADER_KEYS)
        for key in E.ALL_ERROR_HEADER_KEYS:
            good &= per_row(pc.equal(keys, key)) == 1
        bad_hdr = dlq.column("offset").to_numpy()[~good]
        dlq_off = np.sort(dlq.column("offset").to_numpy())
        both = pa.concat_tables([valid, dlq.select(["offset", "value_out"])])
        both = both.take(pc.sort_indices(both.column("offset")))
        off = both.column("offset").to_numpy()
        val = both.column("value_out").combine_chunks()
        failed = []
        for b in range(n_batches):
            lo, hi = b * rows, (b + 1) * rows
            i0, i1 = np.searchsorted(off, [lo, hi])
            d0, d1 = np.searchsorted(dlq_off, [lo, hi])
            ok = (
                np.array_equal(off[i0:i1], np.arange(lo, hi))
                and np.array_equal(dlq_off[d0:d1], lo + np.nonzero(inputs.kind[b] != 0)[0])
                and not np.any((bad_hdr >= lo) & (bad_hdr < hi))
                and _digest(val.slice(i0, i1 - i0)) == inputs.digest[b]
            )
            if not ok:
                failed.append(b)
        return failed

    return Topology("simple_validated", "offset long, value binary", 6, inputs.batch, start, check)


# --- sketch_monitors ----------------------------------------------------


def srm_topology(seed: int, rows: int) -> Topology:
    batch = functools.cache(lambda b: gen.srm_batch(seed, b, rows))

    def start(df, chk, out, tracer):
        from maston_spark.streaming.topology import srm_monitor_topology

        def collect(df, bid):
            topo.seen[bid] = {r["variant"]: r["n_obs"] for r in df.collect()}

        return srm_monitor_topology(
            df, variant_col="variant", expected=gen.SRM_ARMS, checkpoint=chk,
            write_metrics=_wrap(tracer, "sinks.write_metrics", collect),
        )

    def check(out, n_batches):
        total = dict.fromkeys(gen.SRM_ARMS, 0)
        failed = []
        for b in range(n_batches):
            for arm, n in zip(*np.unique(batch(b).column("variant").to_numpy(zero_copy_only=False),
                                         return_counts=True)):
                total[arm] += int(n)
            if topo.seen.get(b) != total:
                failed.append(b)
        return failed

    topo = Topology("srm_monitor", "variant string", 2, batch, start, check, traced_only=True)
    return topo


KMV_K = 256


def kmv_topology(seed: int, rows: int, spark_ref: list) -> Topology:
    batch = functools.cache(lambda b: gen.kmv_batch(seed, b, rows))

    def start(df, chk, out, tracer):
        from maston_spark.streaming.topology import sketch_metrics_topology

        def collect(df, bid):
            topo.seen[bid] = {r["g"]: r["n_distinct_est"] for r in df.collect()}

        return sketch_metrics_topology(
            df, group_col="g", value_col="v", k=KMV_K, checkpoint=chk,
            write_metrics=_wrap(tracer, "sinks.write_metrics", collect),
        )

    def check(out, n_batches):
        """The last batch's running estimate must equal the one-pass batch
        operator over every row fed so far."""
        from maston_spark.sketches import kmv_distinct_by

        # the loop's source directory holds exactly the files fed so far
        src = os.path.join(os.path.dirname(out), "src")
        twin = kmv_distinct_by(spark_ref[0].read.parquet(src), "g", "v", KMV_K)
        want = {r["g"]: r["n_distinct_est"] for r in twin.collect()}
        failed = [b for b in range(n_batches) if b not in topo.seen]
        if topo.seen.get(n_batches - 1) != want:
            failed.append(n_batches - 1)
        return sorted(set(failed))

    topo = Topology("sketch_metrics", "g string, v long", 5, batch, start, check)
    return topo


# Sizes and warm-ups were chosen so one run of each workload fits the
# benchmark's time budget on a 4-core host.  Batch cost is mostly fixed
# per batch (about 2.2 s for ingest, 2 s for KMV, 4 s for SRM), so ingest
# batches are large to keep per-record work visible.  The first batch of
# a fresh JVM takes about 10 s, and batch times keep falling for about
# ten batches as the JIT warms (2.4 s to 1.9 s for ingest); the warm-ups
# keep the steepest part of that fall out of the timed batches.  SRM's
# steady batch time differed by up to 30% between JVM instances on a
# 4-core host (3.4 s vs 4.5 s), against 5% for KMV, so the sketch
# workload times the KMV monitor and runs the SRM monitor, with its
# output check, in the traced run only.
ROWS = {"ingest_dlq": 50_000, "sketch_monitors": 20_000}
TRACED_ONLY_BATCHES = 2


def topologies(workload: str, seed: int, spark_ref: list) -> list[Topology]:
    """The workload's topologies in run order; the first is the timed one."""
    rows = ROWS[workload]
    if workload == "ingest_dlq":
        return [ingest_topology(seed, rows)]
    if workload == "sketch_monitors":
        return [kmv_topology(seed, rows, spark_ref), srm_topology(seed, rows)]
    raise KeyError(workload)
