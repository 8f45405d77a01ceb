"""Seeded workload inputs, made with numpy/pyarrow outside the engine.

Every batch is a function of ``(seed, batch index)`` (the delta feed
also of the batches before it), so a run can generate batch ``b`` when
it feeds it and the output checks know what to expect without reading
anything the program wrote.  The Avro bodies and the 5-byte Confluent
frame are encoded here by hand; the program's own codec is never used
to make its input.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

# DummyAvroTest (maston_spark/queries/avro_q.py): id long,
# status ["null", string], priority string, amount ["null", decimal(12,2)].
AVRO_FIELDS = (
    ("id", "long"),
    ("status", ("null", "string")),
    ("priority", "string"),
    ("amount", ("null", "decimal", 12, 2)),
)
SCHEMA_ID = 42
_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# q73's two corruption shapes, at q73's rates (key % 13, key % 17):
# a frame cut below the 5-byte header, and a body cut mid-varint.
P_FRAME_CUT = 1 / 13
P_BODY_CUT = 1 / 17


def check_avro_schema(schema: dict) -> None:
    """Refuse to run if the program's schema drifted from the shape
    this generator encodes."""
    got = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            inner = t[1]
            if isinstance(inner, dict):
                got.append((f["name"], ("null", inner["logicalType"], inner["precision"], inner["scale"])))
            else:
                got.append((f["name"], ("null", inner)))
        else:
            got.append((f["name"], t))
    if tuple(got) != AVRO_FIELDS:
        raise SystemExit(f"DummyAvroTest schema changed: {got}")


def _rng(seed: int, stream: int, b: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, b])


def _varint(out: bytearray, v: int) -> None:
    z = (v << 1) ^ (v >> 63)
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def _avro_string(out: bytearray, s: bytes) -> None:
    _varint(out, len(s))
    out += s


def avro_record(rid: int, status: str | None, priority: str, cents: int) -> bytes:
    out = bytearray(b"\x00")
    out += SCHEMA_ID.to_bytes(4, "big")
    _varint(out, rid)
    if status is None:
        out.append(0)  # union branch 0: null
    else:
        _varint(out, 1)
        _avro_string(out, status.encode())
    _avro_string(out, priority.encode())
    _varint(out, 1)  # amount is never null here
    _avro_string(out, cents.to_bytes(max(1, (cents.bit_length() + 8) // 8), "big", signed=True))
    return bytes(out)


class IngestBatch:
    """One ``ingest_dlq`` micro-batch: ``offset``/``value`` rows, plus the
    planted corruption kind per row (0 ok, 1 frame cut, 2 body cut)."""

    def __init__(self, seed: int, b: int, n: int):
        r = _rng(seed, 1, b)
        self.offset = np.arange(b * n, (b + 1) * n, dtype=np.int64)
        status = r.integers(0, 4, n)  # 3 -> null
        prio = r.integers(0, len(_PRIORITIES), n)
        cents = r.integers(0, 1_000_000, n)
        u = r.random(n)
        self.kind = np.where(u < P_FRAME_CUT, 1, np.where(u < P_FRAME_CUT + P_BODY_CUT, 2, 0))
        values = []
        for i in range(n):
            st = None if status[i] == 3 else _STATUSES[status[i]]
            rec = avro_record(int(self.offset[i]), st, _PRIORITIES[prio[i]], int(cents[i]))
            k = self.kind[i]
            if k == 1:
                rec = rec[:4]
            elif k == 2:
                rec = rec[:5] + b"\xff"
            values.append(rec)
        self.value = values

    def table(self) -> pa.Table:
        return pa.table(
            {"offset": pa.array(self.offset), "value": pa.array(self.value, pa.binary())}
        )


DELTA_SCHEMA = "business_key string, string_value string, seq bigint"
P_MALFORMED = 0.05
P_OLDER = 0.02
P_REPEAT = 0.5


class DeltaFeed:
    """Sequential JSON feed for ``keyed_delta``.

    Keys are drawn uniformly from ``keys``.  Per record: 5% malformed
    JSON; 2% carry a ``seq`` below the key's latest; of the rest, half
    repeat the key's current value under a newer ``seq`` and half bring
    a new value.  ``seq`` is unique within a key, so the per-key order
    the fold sorts by is total.
    """

    def __init__(self, seed: int, keys: int):
        self.seed = seed
        self.keys = keys
        self.last_seq = np.full(keys, -1, dtype=np.int64)
        self.older = np.zeros(keys, dtype=np.int64)
        self.cur_val: list[str | None] = [None] * keys
        self.counter = 0

    def batch(self, b: int, n: int) -> pa.Table:
        r = _rng(self.seed, 2, b)
        key = r.integers(0, self.keys, n)
        u = r.random(n)
        rep = r.random(n)
        values = []
        for i in range(n):
            k = int(key[i])
            name = f"k{k:05d}"
            if u[i] < P_MALFORMED:
                values.append('{"business_key": "%s", "string_value": ' % name)
                continue
            if u[i] < P_MALFORMED + P_OLDER and self.last_seq[k] >= 0:
                self.older[k] += 1
                seq = int(self.last_seq[k] - self.older[k])
                val = f"old{b}.{i}"
            else:
                self.counter += 1
                seq = self.counter * 1000
                if rep[i] < P_REPEAT and self.cur_val[k] is not None:
                    val = self.cur_val[k]
                else:
                    val = f"v{b}.{i}"
                self.last_seq[k] = seq
                self.older[k] = 0
                self.cur_val[k] = val
            values.append(json.dumps({"business_key": name, "string_value": val, "seq": seq}))
        return pa.table(
            {
                "offset": pa.array(np.arange(b * n, (b + 1) * n, dtype=np.int64)),
                "value": pa.array(values, pa.string()),
            }
        )


def delta_reference(batches: list[pa.Table]) -> tuple[list[set], dict]:
    """Pure-Python emit-iff-updated fold: per batch, per key in ``seq``
    order, emit a record iff the key has no accepted record yet or the
    record is newer and carries a changed value; malformed records are
    skipped.  Returns the set of emitted ``(key, seq, value)`` per batch
    and the final state ``key -> (seq, value)``."""
    state: dict[str, tuple[int, str]] = {}
    emitted = []
    for t in batches:
        rows = []
        for v in t.column("value").to_pylist():
            try:
                d = json.loads(v)
            except ValueError:
                continue
            rows.append((d["business_key"], d["seq"], d["string_value"]))
        out = set()
        for key, seq, val in sorted(rows):
            old = state.get(key)
            if old is None or (seq > old[0] and val != old[1]):
                state[key] = (seq, val)
                out.add((key, seq, val))
        emitted.append(out)
    return emitted, state


SRM_ARMS = {"A": 0.5, "B": 0.25, "C": 0.25}
KMV_GROUPS = 5


def srm_batch(seed: int, b: int, n: int) -> pa.Table:
    r = _rng(seed, 3, b)
    arms = np.array(sorted(SRM_ARMS))
    idx = r.choice(len(arms), n, p=[SRM_ARMS[a] for a in arms])
    return pa.table({"variant": pa.array(arms[idx].tolist(), pa.string())})


def kmv_batch(seed: int, b: int, n: int) -> pa.Table:
    r = _rng(seed, 4, b)
    g = r.integers(0, KMV_GROUPS, n)
    return pa.table(
        {
            "g": pa.array([f"ev{x}" for x in g], pa.string()),
            "v": pa.array(r.integers(0, 5_000_000, n, dtype=np.int64)),
        }
    )
