"""Diff two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are record files written by ``perfbench/run.py`` (under
``.perfbench/records/``) or directories of them.  Where a side has
several records of one workload, each metric is the median over them.
Prints, per workload, every end-to-end metric and then every per-layer
metric with both values and the change in percent, so a saving can be
traced to the layer it came from.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over the records found at ``path``."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
        if os.path.isdir(path)
        else [path]
    )
    out: dict[str, dict[str, list[float]]] = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        per = out.setdefault(rec["workload"], {})
        section = "per_layer" if rec.get("trace") else "end_to_end"
        for name, value in rec.get(section, {}).items():
            per.setdefault(f"{section}:{name}", []).append(float(value))
        res = rec.get("result", {})
        per.setdefault("ops:attempted", []).append(float(res.get("attempted", 0)))
        per.setdefault("ops:failed", []).append(float(res.get("failed", 0)))
    return out


def _fmt(v: float | None) -> str:
    if v is None:
        return "-"
    return f"{v:.4g}"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (load(p) for p in argv)
    for wl in sorted(set(a) | set(b)):
        n_a = len(a.get(wl, {}).get("ops:attempted", []))
        n_b = len(b.get(wl, {}).get("ops:attempted", []))
        print(f"== {wl}  (records: before {n_a}, after {n_b}; each value is their median)")
        print(f"{'metric':<44} {'before':>12} {'after':>12} {'change':>9}")
        names = sorted(set(a.get(wl, {})) | set(b.get(wl, {})),
                       key=lambda n: (not n.startswith("end_to_end"), n))
        for name in names:
            va, vb = a.get(wl, {}).get(name), b.get(wl, {}).get(name)
            ma = statistics.median(va) if va else None
            mb = statistics.median(vb) if vb else None
            change = f"{100.0 * (mb - ma) / ma:+.1f}%" if ma and mb is not None else "-"
            print(f"{name.split(':', 1)[1]:<44} {_fmt(ma):>12} {_fmt(mb):>12} {change:>9}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
