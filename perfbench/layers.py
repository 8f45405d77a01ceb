"""Timed direct calls into each layer's public functions, on inputs from
the same generators and sizes as the workloads.  Run in the traced run
only; each call is made once untimed, then timed once (more repetitions
would push a traced run on a loaded 4-core host past its time limit).
"""

from __future__ import annotations

import json
import time

import numpy as np

from perfbench import gen
from perfbench.workloads import KMV_K, ROWS

# keyed_delta's shape: the key domain is half the batch, so after three
# batches the state holds nearly every key and the fold sees batch + state.
DELTA_ROWS, DELTA_KEYS, DELTA_BATCHES = 2_000, 1_000, 4


def is_updated(old, new):
    """Newer ``seq`` and a changed value."""
    return new["ok"]["seq"] > old["ok"]["seq"] and new["ok"]["string_value"] != old["ok"]["string_value"]


def _timed(fn) -> float:
    fn()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def measure(spark, seed: int) -> tuple[dict[str, float], dict[str, bool]]:
    """Per-layer metrics, and the output checks made on the way: the
    decoder routes exactly the planted corrupt records to ``err``, and the
    delta fold emits what the pure-Python reference fold emits."""
    from pyspark.sql import functions as F

    from maston_spark.delta import delta_dedup_fold
    from maston_spark.evaluation import srm_from_counts
    from maston_spark.queries.avro_q import AVRO_SCHEMA
    from maston_spark.sinks import noop_write, split_sink_batch
    from maston_spark.sketches import h60, kmv_truncate
    from maston_spark.validated import safe_from_avro_arrow, safe_from_json, safe_serialize_avro

    out: dict[str, float] = {}
    checks: dict[str, bool] = {}
    # Batch indices past any the workloads feed, so inputs are fresh.
    probe = 10_000

    n = ROWS["ingest_dlq"]
    ib = gen.IngestBatch(seed, probe, n)
    raw = spark.createDataFrame(ib.table().to_pandas()).persist()
    raw.count()
    out["validated.decode_rows_per_s"] = n / _timed(
        lambda: noop_write(safe_from_avro_arrow(raw, "value", AVRO_SCHEMA))
    )
    validated = safe_from_avro_arrow(raw, "value", AVRO_SCHEMA).persist()
    n_err = validated.filter(F.col("err").isNotNull()).count()
    out["validated.error_share"] = n_err / n
    checks["validated.decode"] = n_err == int((ib.kind != 0).sum())
    out["avro_vec.encode_rows_per_s"] = n / _timed(
        lambda: noop_write(safe_serialize_avro(validated, AVRO_SCHEMA, gen.SCHEMA_ID))
    )
    out["sinks.split_s"] = _timed(
        lambda: split_sink_batch(
            validated, noop_write, noop_write,
            serialize=lambda d: safe_serialize_avro(d, AVRO_SCHEMA, gen.SCHEMA_ID),
        )
    )
    validated.unpersist()
    raw.unpersist()

    # Delta fold over one batch plus the state the warm-up left behind,
    # shaped the way delta_topology hands it to the fold.
    feed = gen.DeltaFeed(seed, DELTA_KEYS)
    tables = [feed.batch(b, DELTA_ROWS) for b in range(DELTA_BATCHES)]
    _, state = gen.delta_reference(tables[:-1])
    ref, _ = gen.delta_reference(tables)
    seed_rows = [(-1, json.dumps({"business_key": k, "string_value": v, "seq": s}))
                 for k, (s, v) in state.items()]
    batch = spark.createDataFrame(tables[-1].to_pandas())
    out["validated.json_parse_rows_per_s"] = DELTA_ROWS / _timed(
        lambda: noop_write(safe_from_json(batch, "value", gen.DELTA_SCHEMA))
    )

    def keyed(df, seq):
        return (
            safe_from_json(df, "value", gen.DELTA_SCHEMA)
            .filter(F.col("err").isNull())
            .withColumn("__business_key", F.col("ok.business_key"))
            .withColumn("__ord_0", F.col("ok.seq"))
            .withColumn("__seq", F.lit(seq))
        )

    combined = keyed(batch, 1).unionByName(
        keyed(spark.createDataFrame(seed_rows, "offset long, value string"), 0)
    ).persist()
    examined = combined.count()
    fold = delta_dedup_fold(combined, ["__business_key"], ["__seq", "__ord_0"], is_updated)
    out["delta.fold_s"] = _timed(lambda: noop_write(fold))
    out["delta.rows_examined_per_batch"] = float(examined)
    emitted = {tuple(r) for r in fold.filter(F.col("__seq") == 1)
               .select("ok.business_key", "ok.seq", "ok.string_value").collect()}
    out["delta.emit_ratio"] = len(emitted) / examined
    checks["delta.fold"] = emitted == ref[-1]
    combined.unpersist()

    arms = gen.srm_batch(seed, probe, ROWS["sketch_monitors"]).column("variant")
    counts = spark.createDataFrame(
        [(a, int(c)) for a, c in zip(*np.unique(arms.to_numpy(zero_copy_only=False), return_counts=True))],
        "variant string, n_obs long",
    )
    out["evaluation.srm_from_counts_s"] = _timed(lambda: srm_from_counts(counts, gen.SRM_ARMS).collect())

    kmv = spark.createDataFrame(gen.kmv_batch(seed, probe, ROWS["sketch_monitors"]).to_pandas())
    gh = kmv.select(F.col("g"), h60(F.col("v").cast("string")).alias("h")).persist()
    gh.count()
    out["sketches.kmv_truncate_s"] = _timed(lambda: noop_write(kmv_truncate(gh, KMV_K)))
    gh.unpersist()
    return out, checks
