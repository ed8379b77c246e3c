"""Time the geometry-repair kernels on fixed inputs, one core.

    taskset -c 0 python tools/repair_kernels.py [--root DIR]

``--root`` imports ``quackosm_spark`` from another checkout (an unpacked
parent commit, say), so two versions can be timed on the same box in
alternation. Each row is the median of seven timed batches, per call.

Rows:

- ``make_valid_ring``, K vertices: a K-gon with two far vertices swapped,
  so a handful of self-crossings (the repair path of a broken way).
- two-ring ops, n×m pair: one ``polygon_union`` of a regular n-gon and a
  regular m-gon whose boundaries cross.
- ``_assemble_relation``: two crossing rectangular outers; a 400-gon
  outer with a rectangular inner that straddles its boundary.
"""

from __future__ import annotations

import argparse
import math
import statistics
import sys
import time
from pathlib import Path


def _ngon(n: int, r: float, cx: float = 0.0, cy: float = 0.0, phase: float = 0.1):
    pts = [
        [cx + r * math.cos(phase + 2 * math.pi * k / n),
         cy + r * math.sin(phase + 2 * math.pi * k / n)]
        for k in range(n)
    ]
    return pts + [list(pts[0])]


def _twisted(n: int):
    ring = _ngon(n, 1.0)
    ring[n // 10], ring[n // 2] = ring[n // 2], ring[n // 10]
    return ring


def _relation(members):
    import pandas as pd

    return pd.DataFrame([
        {"id": 1, "ref_role": role, "ref_idx": i,
         "linestring": [{"x": float(x), "y": float(y)} for x, y in ring]}
        for i, (role, ring) in enumerate(members)
    ])


def _time(fn, budget_s: float = 0.2) -> float:
    """Median per-call seconds over seven batches sized to ~budget_s."""
    fn()
    number, t = 1, 0.0
    while True:
        t0 = time.perf_counter()
        for _ in range(number):
            fn()
        t = time.perf_counter() - t0
        if t >= budget_s / 7 or number >= 1 << 16:
            break
        number *= 2
    runs = []
    for _ in range(7):
        t0 = time.perf_counter()
        for _ in range(number):
            fn()
        runs.append((time.perf_counter() - t0) / number)
    return statistics.median(runs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--root",
        default=str(Path(__file__).resolve().parent.parent),
        help="checkout to import quackosm_spark from (default: this one)",
    )
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    from quackosm_spark.geometry import repair as R
    from quackosm_spark.plans.pipeline import _assemble_relation

    rect_a = [[0, 0], [4, 0], [4, 3], [0, 3], [0, 0]]
    rect_b = [[2, 1], [6, 1], [6, 5], [2, 5], [2, 1]]
    straddler = [[0.5, -0.2], [1.5, -0.2], [1.5, 0.2], [0.5, 0.2], [0.5, -0.2]]
    rows = {}
    for k in (50, 500, 2000):
        ring = _twisted(k)
        rows[f"make_valid_ring, {k} vertices"] = _time(
            lambda ring=ring: R.make_valid_ring(ring)
        )
    for n, m in ((8, 8), (200, 20), (2000, 50)):
        a, b = _ngon(n, 1.0), _ngon(m, 0.6, 0.8, 0.1, 0.3)
        rows[f"two-ring ops, {n}x{m} pair"] = _time(
            lambda a=a, b=b: R.polygon_union(a, b)
        )
    crossing = _relation([("outer", rect_a), ("outer", rect_b)])
    rows["_assemble_relation, crossing outers"] = _time(
        lambda: _assemble_relation(crossing)
    )
    ngon_straddler = _relation([("outer", _ngon(400, 1.0)), ("inner", straddler)])
    rows["_assemble_relation, 400-gon + straddler"] = _time(
        lambda: _assemble_relation(ngon_straddler)
    )
    for name, sec in rows.items():
        print(f"{name:45s} {sec * 1e3:10.3f} ms")


if __name__ == "__main__":
    main()
