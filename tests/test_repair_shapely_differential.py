"""Shapely/GEOS differential oracle for the geometry repair kernels —
lib-gated like the PIL multimodal pattern (VERDICT r02 #4 / "What's
missing" #3).

DuckDB-spatial cannot be installed offline, so the repair kernels'
standing oracles are closed-form fixtures (tests/test_repair.py). When
shapely IS importable (any environment with network or a fatter image),
this module fuzzes the kernels against GEOS itself:

- ``make_valid_ring`` vs ``shapely.make_valid`` on random
  self-intersecting rings (area + part count; GEOS's MakeValid uses the
  same even-odd linework semantics, `structure="legacy"` default),
- ``ring_union`` / ``ring_intersection`` / ``polygon_difference`` vs the
  shapely boolean ops on random convex polygon pairs (area),
- ``polygon_union`` hole handling vs shapely on crossing C-shape pairs.

Offline this file collects and skips cleanly (module-level skip).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

shapely = pytest.importorskip("shapely")

from shapely.geometry import Polygon  # noqa: E402
from shapely.validation import make_valid  # noqa: E402

from quackosm_spark.geometry import repair as R  # noqa: E402

N_FUZZ = 100
AREA_RTOL = 1e-9


def _poly_area(polys: list[list[list[list[float]]]]) -> float:
    return sum(
        R.ring_area(p[0]) - sum(R.ring_area(h) for h in p[1:]) for p in polys
    )


def _random_ring(rng: np.random.Generator, n_lo=5, n_hi=12) -> list[list[float]]:
    """Random closed ring with vertices in random angular order — almost
    surely self-intersecting, almost surely transversal (random floats
    never land collinear)."""
    n = int(rng.integers(n_lo, n_hi))
    pts = rng.uniform(-1.0, 1.0, size=(n, 2)).tolist()
    pts.append(list(pts[0]))
    return pts


def _convex(rng: np.random.Generator, cx: float, cy: float, r: float):
    n = int(rng.integers(4, 9))
    angles = np.sort(rng.uniform(0, 2 * np.pi, n))
    radii = rng.uniform(0.5 * r, r, n)
    ring = [
        [cx + rad * math.cos(a), cy + rad * math.sin(a)]
        for a, rad in zip(angles, radii)
    ]
    ring.append(list(ring[0]))
    return ring


class TestMakeValidDifferential:
    def test_random_self_intersecting_rings(self):
        checked = 0
        for seed in range(N_FUZZ):
            rng = np.random.default_rng(seed)
            ring = _random_ring(rng)
            raw = Polygon(ring)
            if raw.is_valid:
                continue
            repaired = make_valid(raw)
            try:
                ours = R.make_valid_area(ring)
            except Exception:
                pytest.fail(f"make_valid_ring raised on seed {seed}")
            assert ours == pytest.approx(repaired.area, rel=1e-6), seed
            checked += 1
        assert checked >= N_FUZZ // 2

    def test_spike_and_collinear_fixtures(self):
        fixtures = [
            [[0, 0], [4, 0], [4, 4], [2, 4], [2, 6], [2, 4], [0, 4], [0, 0]],
            [[0, 0], [4, 0], [6, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
            [[0, 0], [4, 0], [4, 2], [3, 0], [1, 0], [0, 2], [0, 0]],
        ]
        for ring in fixtures:
            repaired = make_valid(Polygon(ring))
            assert R.make_valid_area(ring) == pytest.approx(
                repaired.area, rel=1e-9
            )


class TestBooleanOpsDifferential:
    def test_convex_pairs(self):
        for seed in range(N_FUZZ):
            rng = np.random.default_rng(seed)
            a = _convex(rng, 0.0, 0.0, 2.0)
            b = _convex(
                rng,
                float(rng.uniform(-1.5, 1.5)),
                float(rng.uniform(-1.5, 1.5)),
                float(rng.uniform(0.5, 2.5)),
            )
            # the radial generator can emit a self-crossing ring at
            # near-equal angles — outside the simple-input contract
            if R.has_self_intersection(a) or R.has_self_intersection(b):
                continue
            pa, pb = Polygon(a), Polygon(b)
            union = sum(R.ring_area(r) for r in R.ring_union(a, b))
            inter = sum(R.ring_area(r) for r in R.ring_intersection(a, b))
            diff = _poly_area(R.polygon_difference(a, b))
            assert union == pytest.approx(pa.union(pb).area, rel=AREA_RTOL), seed
            assert inter == pytest.approx(
                pa.intersection(pb).area, rel=AREA_RTOL, abs=1e-12
            ), seed
            assert diff == pytest.approx(
                pa.difference(pb).area, rel=AREA_RTOL, abs=1e-12
            ), seed

    def test_union_enclosed_hole(self):
        bar = [[0, 0], [10, 0], [10, 2], [0, 2], [0, 0]]
        nshape = [[1, 1], [3, 1], [3, 6], [7, 6], [7, 1], [9, 1],
                  [9, 8], [1, 8], [1, 1]]
        expected = Polygon(bar).union(Polygon(nshape))
        got = _poly_area(R.polygon_union(bar, nshape))
        assert got == pytest.approx(expected.area, rel=AREA_RTOL)
        assert len(expected.interiors) == 1
        assert len(R.polygon_union(bar, nshape)[0]) == 2


class TestOverlayDifferential:
    """The overlay kernels vs GEOS on the degenerate configurations:
    shared full and partial edges, corner touches, edge bites, pinches."""

    def test_shared_edge_fixtures(self):
        cases = [
            # (a, b) sharing full/partial edges, plus corner touch
            ([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
             [[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]),
            ([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
             [[1, 0.25], [2, 0.25], [2, 0.75], [1, 0.75], [1, 0.25]]),
            ([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]],
             [[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]]),
        ]
        for a, b in cases:
            expected = Polygon(a).union(Polygon(b))
            got = _poly_area(R.overlay_union(a, b))
            assert got == pytest.approx(expected.area, rel=1e-9)
            n_parts = getattr(expected, "geoms", [expected])
            assert len(R.overlay_union(a, b)) == len(list(n_parts))

    def test_edge_bite_difference(self):
        sq = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
        bite = [[1, 0], [3, 0], [3, 2], [1, 2], [1, 0]]
        expected = Polygon(sq).difference(Polygon(bite))
        got = R.overlay_difference(sq, bite)
        assert _poly_area(got) == pytest.approx(expected.area, rel=1e-9)
        assert len(got[0]) == 1 + len(expected.interiors)

    def test_random_pairs_union(self):
        checked = 0
        for seed in range(N_FUZZ):
            rng = np.random.default_rng(seed)
            a = _convex(rng, 0.0, 0.0, 2.0)
            b = _convex(
                rng,
                float(rng.uniform(-1.5, 1.5)),
                float(rng.uniform(-1.5, 1.5)),
                float(rng.uniform(0.5, 2.5)),
            )
            if R.has_self_intersection(a) or R.has_self_intersection(b):
                continue
            expected = Polygon(a).union(Polygon(b)).area
            got = _poly_area(R.overlay_union(a, b))
            assert got == pytest.approx(expected, rel=1e-9), seed
            checked += 1
        assert checked >= N_FUZZ // 2


class TestRound4DegenerateClasses:
    """r04 gate + overlay additions vs GEOS: tangent touches, pinch
    points, pinch-vertex overlay differences, overlapping union holes."""

    def test_tangent_touch_matches_geos_makevalid(self):
        from shapely import make_valid
        from shapely.geometry import Polygon

        touch = [[0, 0], [4, 0], [4, 4], [2, 0], [0, 4], [0, 0]]
        assert R.needs_ring_repair(touch)
        expected = make_valid(Polygon(touch))
        assert R.make_valid_area(touch) == pytest.approx(
            expected.area, rel=1e-9
        )

    def test_spike_classes_match_geos_makevalid(self):
        from shapely import make_valid
        from shapely.geometry import Polygon

        for ring in (
            [[0, 0], [4, 0], [4, 4], [2, 4], [2, 6], [2, 4], [0, 4], [0, 0]],
            [[0, 0], [4, 0], [4, 4], [2, 4], [2, 7], [2, 5], [0, 5], [0, 0]],
        ):
            assert R.needs_ring_repair(ring)
            expected = make_valid(Polygon(ring))
            assert R.make_valid_area(ring) == pytest.approx(
                expected.area, rel=1e-9
            )

    def test_pinch_overlay_difference_matches_geos(self):
        from shapely.geometry import Polygon

        rect = [[3, 2], [7, 2], [7, 6], [3, 6], [3, 2]]
        tri = [[3, 2], [7, 4], [3, 6], [3, 2]]
        expected = Polygon(rect).difference(Polygon(tri))
        got = R.overlay_difference(rect, tri)
        assert _poly_area(got) == pytest.approx(expected.area, rel=1e-9)
        assert len(got) == len(list(getattr(expected, "geoms", [expected])))

    def test_overlapping_courtyard_union_matches_geos(self):
        from shapely.ops import unary_union
        from shapely.geometry import Polygon

        def u_up(dx=0.0, dy=0.0):
            return [[x + dx, y + dy] for x, y in
                    [[0, 0], [6, 0], [6, 6], [4, 6], [4, 2], [2, 2],
                     [2, 6], [0, 6], [0, 0]]]

        def u_down(dx=0.0, dy=0.0):
            return [[x + dx, 6 - y + dy] for x, y in
                    [[0, 0], [6, 0], [6, 6], [4, 6], [4, 2], [2, 2],
                     [2, 6], [0, 6], [0, 0]]]

        rings = [u_up(), u_down(), u_up(1, 1), u_down(1, 1)]
        expected = unary_union([Polygon(r) for r in rings])
        got = R.union_all_polygons(rings)
        assert _poly_area(got) == pytest.approx(expected.area, rel=1e-9)
