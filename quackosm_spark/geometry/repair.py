"""Geometry repair and polygon boolean ops — pure Python/numpy.

Fills the reference's two GEOS-backed gaps called out in VERDICT r01:

- ``make_valid_ring``: ST_MakeValid for self-intersecting closed ways
  (reference wraps every geometry write in ST_MakeValid,
  pbf_file_reader.py:3592-3644). A bowtie ``building=yes`` way becomes the
  even-odd MultiPolygon GEOS produces: split at self-intersections,
  decompose into simple loops, nest by even-odd containment parity.
- ``ring_union`` / ``ring_difference`` / ``ring_intersection`` and their
  hole-aware ``polygon_*`` forms: the relation-assembly semantics the
  reference gets from ``ST_Difference`` / ``ST_Union_Agg``
  (pbf_file_reader.py:3332-3397): overlapping outer parts union into one
  shell; an inner ring straddling the outer boundary subtracts only the
  covered part.

Everything operates on plain coordinate lists (``[[x, y], ...]``, open or
closed rings) like the rest of ``quackosm_spark.geometry`` — no GEOS. All
functions are per-feature kernels called inside Arrow-batched pandas UDFs,
so they parallelize with the data and add no shuffle.

One planar engine serves both, as GEOS's overlay does: ``_node_segments``
splits a segment soup at every transversal crossing, T-junction and
collinear overlap, and ``_faces_from_segments`` extracts the bounded
faces of the noded graph. ``make_valid_ring`` nodes the ring's own
segments and keeps the faces of odd crossing parity; the two-ring
operations node both rings together and keep the faces inside A and/or B
(``_overlay``). Degeneracy contract: transversal crossings, shared or
collinear boundary runs, T-touches and retraced spikes are all noded the
way GEOS nodes linework. Callers still guard with try/except, keeping the
raw ring on any residual failure (a boundary that does not close).
"""

from __future__ import annotations

import math
import warnings
from collections import Counter
from typing import Iterator, Optional

import numpy as np

from quackosm_spark.geometry.ops import (
    ensure_orientation,
    points_in_ring,
    remove_repeated_points,
    signed_area,
)

Ring = list[list[float]]
_EPS = 1e-12
_KEY_DIGITS = 9


def _close(ring: Ring) -> Ring:
    if ring and ring[0] != ring[-1]:
        return ring + [ring[0]]
    return ring


def _open(ring: Ring) -> Ring:
    if len(ring) >= 2 and ring[0] == ring[-1]:
        return ring[:-1]
    return ring


def _key(pt: list[float]) -> tuple[float, float]:
    return (round(pt[0], _KEY_DIGITS), round(pt[1], _KEY_DIGITS))


# --------------------------------------------------------------------------
# Gates: does a ring need repair, do two rings cross or share an edge run
# --------------------------------------------------------------------------

# row-block size for the pairwise segment test: peak transient memory is
# O(block × K) floats (~8 arrays × 256 × 2000 × 8 B ≈ 33 MB at the OSM
# 2000-vertex way cap) instead of the old O(K²) (~200+ MB at the cap,
# VERDICT r02 "What's wrong" #1)
_SELF_INTERSECT_BLOCK = 256


def has_self_intersection(ring: Ring) -> bool:
    """True iff the closed ring has a transversal self-intersection —
    the cheap guard that keeps valid geometry on the exact-parity fast
    path (no re-orientation, no vertex reordering). Vectorized numpy
    pairwise segment test, processed in fixed-size row blocks so peak
    memory is O(block·K) rather than O(K²), with early exit on the first
    crossing block."""
    a = np.asarray(ring, dtype=np.float64)
    if a.ndim != 2 or a.shape[0] < 4:
        return False
    # numpy-native consecutive dedupe + unclose (accepts lists OR arrays —
    # the way-geometry UDF feeds raw Arrow float arrays straight in)
    keep = np.ones(len(a), dtype=bool)
    keep[1:] = (a[1:] != a[:-1]).any(axis=1)
    a = a[keep]
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    n = a.shape[0]
    if n < 4:
        return False
    arr = np.concatenate([a, a[:1]], axis=0)
    p = arr[:-1]
    r = arr[1:] - arr[:-1]
    px, py = p[:, 0], p[:, 1]
    rx, ry = r[:, 0], r[:, 1]
    j_idx = np.arange(n)[None, :]
    for s in range(0, n, _SELF_INTERSECT_BLOCK):
        e = min(s + _SELF_INTERSECT_BLOCK, n)
        bi = np.arange(s, e)[:, None]
        # pairwise cross products: t and u parameters for this row block
        denom = rx[s:e, None] * ry[None, :] - ry[s:e, None] * rx[None, :]
        qpx = px[None, :] - px[s:e, None]
        qpy = py[None, :] - py[s:e, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (qpx * ry[None, :] - qpy * rx[None, :]) / denom
            u = (qpx * ry[s:e, None] - qpy * rx[s:e, None]) / denom
        nonadjacent = (j_idx > bi + 1) & ~((bi == 0) & (j_idx == n - 1))
        crossing = (
            nonadjacent
            & (np.abs(denom) > _EPS)
            & (t > _EPS) & (t < 1 - _EPS)
            & (u > _EPS) & (u < 1 - _EPS)
        )
        if bool(np.any(crossing)):
            return True
    return False


def has_degenerate_edges(ring: Ring) -> bool:
    """True iff the closed ring has a repeated non-consecutive vertex
    (pinch point), a collinear-overlapping edge pair (zero-width spike,
    retraced segment, partial collinear overlap), or a vertex lying in
    the INTERIOR of a non-incident edge (tangent T-touch). The companion
    gate to ``has_self_intersection`` (which tests TRANSVERSAL crossings
    only and returns False on all of these): GEOS's ST_MakeValid repairs
    every class, so the pipeline's repair gate must detect them all
    (ADVICE r03). Same fixed-row-block pairwise scheme — O(block·K) peak
    memory, early exit on the first degenerate block."""
    a = np.asarray(ring, dtype=np.float64)
    if a.ndim != 2 or a.shape[0] < 4:
        return False
    keep = np.ones(len(a), dtype=bool)
    keep[1:] = (a[1:] != a[:-1]).any(axis=1)
    a = a[keep]
    if len(a) >= 2 and (a[0] == a[-1]).all():
        a = a[:-1]
    n = a.shape[0]
    if n < 3:
        return False
    # pinch point: the same coordinate appears twice at non-consecutive
    # walk positions (figure-eight through a shared vertex) — O(K log K)
    if len(np.unique(a, axis=0)) < n:
        return True
    arr = np.concatenate([a, a[:1]], axis=0)
    p = arr[:-1]
    r = arr[1:] - arr[:-1]
    rr_full = (r * r).sum(axis=1)
    q1x, q1y = p[:, 0], p[:, 1]
    q2x, q2y = arr[1:, 0], arr[1:, 1]
    j_idx = np.arange(n)[None, :]
    for blo in range(0, n, _SELF_INTERSECT_BLOCK):
        bhi = min(blo + _SELF_INTERSECT_BLOCK, n)
        bi = np.arange(blo, bhi)[:, None]
        pb_ = p[blo:bhi]
        rb_ = r[blo:bhi]
        rr = rr_full[blo:bhi][:, None]
        d1x = q1x[None, :] - pb_[:, None, 0]
        d1y = q1y[None, :] - pb_[:, None, 1]
        d2x = q2x[None, :] - pb_[:, None, 0]
        d2y = q2y[None, :] - pb_[:, None, 1]
        c1 = rb_[:, None, 0] * d1y - rb_[:, None, 1] * d1x
        c2 = rb_[:, None, 0] * d2y - rb_[:, None, 1] * d2x
        scale = np.sqrt(rr) * (
            np.abs(d1x) + np.abs(d1y) + np.abs(d2x) + np.abs(d2y)
        ) + _EPS
        collinear = (
            (j_idx > bi)  # each unordered edge pair once; adjacent pairs
            # INCLUDED — a spike is edge i+1 retracing along edge i
            & (rr > _EPS)
            & (np.abs(c1) <= 1e-9 * scale)
            & (np.abs(c2) <= 1e-9 * scale)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            t1 = (d1x * rb_[:, None, 0] + d1y * rb_[:, None, 1]) / rr
            t2 = (d2x * rb_[:, None, 0] + d2y * rb_[:, None, 1]) / rr
        # tangent T-touch: edge j's START vertex sits strictly inside
        # edge i (every vertex is some edge's start, so j ≠ i covers all
        # vertex×edge pairs; incident vertices land at t1 ∈ {0, 1}
        # exactly and are excluded by the open interval)
        scale_pt = np.sqrt(rr) * (np.abs(d1x) + np.abs(d1y)) + _EPS
        touch = (
            (j_idx != bi)
            & (rr > _EPS)
            & (np.abs(c1) <= 1e-9 * scale_pt)
            & (t1 > 1e-12)
            & (t1 < 1.0 - 1e-12)
        )
        if bool(touch.any()):
            return True
        if not collinear.any():
            continue
        lo = np.minimum(t1, t2)
        hi = np.maximum(t1, t2)
        # genuine 1-D overlap, not an endpoint touch (a collinear
        # CONTINUATION — three points on a straight run — overlaps with
        # measure zero and stays on the fast path)
        overlap = np.minimum(hi, 1.0) - np.maximum(lo, 0.0) > 1e-9
        if bool((collinear & overlap).any()):
            return True
    return False


def needs_ring_repair(ring: Ring) -> bool:
    """The pipeline's MakeValid gate: True iff the ring has a transversal
    self-crossing OR a degenerate (collinear/retraced/pinched) edge
    configuration — i.e. iff GEOS's ST_MakeValid would not be the
    identity on it. Valid rings return False and keep the exact-parity
    fast path (no re-orientation, no vertex reordering)."""
    return has_self_intersection(ring) or has_degenerate_edges(ring)


def rings_cross(a: Ring, b: Ring) -> bool:
    """True iff two rings have a transversal edge crossing (the trigger
    for boolean-op assembly instead of plain nesting). Same fixed-row-
    block scheme as ``has_self_intersection`` — peak memory O(block·K),
    early exit on the first crossing block — two 2000-vertex relation
    rings must not allocate K×K matrices either."""
    pa = _open(remove_repeated_points(a))
    pb = _open(remove_repeated_points(b))
    arr_a = np.asarray(pa + [pa[0]], dtype=np.float64)
    arr_b = np.asarray(pb + [pb[0]], dtype=np.float64)
    # cheap bbox reject before any pairwise work
    if (
        arr_a[:, 0].min() > arr_b[:, 0].max()
        or arr_b[:, 0].min() > arr_a[:, 0].max()
        or arr_a[:, 1].min() > arr_b[:, 1].max()
        or arr_b[:, 1].min() > arr_a[:, 1].max()
    ):
        return False
    p = arr_a[:-1]
    r = arr_a[1:] - arr_a[:-1]
    q = arr_b[:-1]
    s = arr_b[1:] - arr_b[:-1]
    n = p.shape[0]
    for blo in range(0, n, _SELF_INTERSECT_BLOCK):
        bhi = min(blo + _SELF_INTERSECT_BLOCK, n)
        pb_ = p[blo:bhi]
        rb_ = r[blo:bhi]
        denom = (
            rb_[:, None, 0] * s[None, :, 1] - rb_[:, None, 1] * s[None, :, 0]
        )
        qpx = q[None, :, 0] - pb_[:, None, 0]
        qpy = q[None, :, 1] - pb_[:, None, 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (qpx * s[None, :, 1] - qpy * s[None, :, 0]) / denom
            u = (qpx * rb_[:, None, 1] - qpy * rb_[:, None, 0]) / denom
        crossing = (
            (np.abs(denom) > _EPS)
            & (t > _EPS) & (t < 1 - _EPS)
            & (u > _EPS) & (u < 1 - _EPS)
        )
        if bool(np.any(crossing)):
            return True
    return False


def rings_share_boundary(a: Ring, b: Ring) -> bool:
    """True iff the two rings have a collinear-overlapping edge pair (a
    shared boundary run) — with ``rings_cross``, the trigger for boolean-op
    assembly of relation rings that touch along an edge instead of
    crossing. Vectorized with the same fixed-row-block scheme as
    ``rings_cross`` (bbox reject, O(block·K) peak memory, early exit) —
    this runs on every outer-ring pair of every multi-outer relation."""
    pa = _open(remove_repeated_points(a))
    pb = _open(remove_repeated_points(b))
    arr_a = np.asarray(pa + [pa[0]], dtype=np.float64)
    arr_b = np.asarray(pb + [pb[0]], dtype=np.float64)
    if (
        arr_a[:, 0].min() > arr_b[:, 0].max()
        or arr_b[:, 0].min() > arr_a[:, 0].max()
        or arr_a[:, 1].min() > arr_b[:, 1].max()
        or arr_b[:, 1].min() > arr_a[:, 1].max()
    ):
        return False
    p = arr_a[:-1]
    r = arr_a[1:] - arr_a[:-1]
    q1 = arr_b[:-1]
    q2 = arr_b[1:]
    n = p.shape[0]
    rr_full = (r * r).sum(axis=1)
    for blo in range(0, n, _SELF_INTERSECT_BLOCK):
        bhi = min(blo + _SELF_INTERSECT_BLOCK, n)
        pb_ = p[blo:bhi]
        rb_ = r[blo:bhi]
        rr = rr_full[blo:bhi][:, None]
        d1x = q1[None, :, 0] - pb_[:, None, 0]
        d1y = q1[None, :, 1] - pb_[:, None, 1]
        d2x = q2[None, :, 0] - pb_[:, None, 0]
        d2y = q2[None, :, 1] - pb_[:, None, 1]
        c1 = rb_[:, None, 0] * d1y - rb_[:, None, 1] * d1x
        c2 = rb_[:, None, 0] * d2y - rb_[:, None, 1] * d2x
        scale = np.sqrt(rr) * (
            np.abs(d1x) + np.abs(d1y) + np.abs(d2x) + np.abs(d2y)
        ) + _EPS
        collinear = (
            (rr > _EPS)
            & (np.abs(c1) <= 1e-9 * scale)
            & (np.abs(c2) <= 1e-9 * scale)
        )
        if not collinear.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            t1 = (d1x * rb_[:, None, 0] + d1y * rb_[:, None, 1]) / rr
            t2 = (d2x * rb_[:, None, 0] + d2y * rb_[:, None, 1]) / rr
        lo = np.minimum(t1, t2)
        hi = np.maximum(t1, t2)
        # require a genuine 1-D overlap, not a mere endpoint touch
        overlap = np.minimum(hi, 1.0) - np.maximum(lo, 0.0) > 1e-9
        if bool((collinear & overlap).any()):
            return True
    return False


# --------------------------------------------------------------------------
# The planar engine: node a segment soup, extract the faces of its graph
# --------------------------------------------------------------------------

def _faces_from_segments(
    segs: list[tuple[list[float], list[float]]],
) -> list[Ring]:
    """Bounded faces of the planar graph induced by a NODED segment list
    (segments may only meet at endpoints).

    Standard rotation-system face traversal: outgoing edges at every node
    are angle-sorted; the successor of directed edge (a→b) is (b→c) with c
    the clockwise-next neighbor of b after a. Interleaved crossings (a
    pentagram's walk) decompose correctly — a repeat-vertex stack method
    does not. Duplicate undirected segments dissolve in the edge set."""
    keyed = []
    pts: dict[tuple[float, float], list[float]] = {}
    for p, q in segs:
        a, b = _key(p), _key(q)
        if a != b:
            keyed.append((a, b))
            pts[a] = p
            pts[b] = q
    # nodes are numbered in key order and a directed edge (a, b) is the
    # int a·n + b, so edges sort as their key pairs do and hash cheaply
    order = sorted(pts)
    n = len(order)
    rank = {k: i for i, k in enumerate(order)}
    xy = [list(pts[k]) for k in order]
    nbrs: list[set[int]] = [set() for _ in order]
    for a, b in keyed:
        nbrs[rank[a]].add(rank[b])
        nbrs[rank[b]].add(rank[a])
    # succ[a·n + b] = b·n + c, c the clockwise-next neighbor of b after a
    succ: dict[int, int] = {}
    for b, around in enumerate(nbrs):
        if len(around) <= 2:
            ring = list(around)  # any order gives the same successors
        else:
            bx, by = xy[b]
            ring = sorted(
                around,
                key=lambda c: (math.atan2(xy[c][1] - by, xy[c][0] - bx), c),
            )
        for i, a in enumerate(ring):
            succ[a * n + b] = b * n + ring[i - 1]
    visited: set[int] = set()
    faces: list[Ring] = []
    for e in sorted(succ):
        if e in visited:
            continue
        face: Ring = []
        cur = e
        while cur not in visited:
            visited.add(cur)
            face.append(xy[cur // n])
            cur = succ[cur]
        if len(face) >= 3:
            faces.append(face)
    # bounded faces come out CCW under clockwise-next traversal; the
    # unbounded face (one per connected component) comes out CW
    return [f for f in faces if signed_area(f) > _EPS]


def _interior_probe(loop: Ring) -> Optional[list[float]]:
    """A point strictly inside ``loop``: an edge midpoint nudged toward the
    loop's interior."""
    closed = _close(loop)
    arr = np.asarray(closed, dtype=np.float64)
    ccw = signed_area(arr) > 0
    for i in range(len(closed) - 1):
        mx = (arr[i, 0] + arr[i + 1, 0]) / 2.0
        my = (arr[i, 1] + arr[i + 1, 1]) / 2.0
        ex, ey = arr[i + 1, 0] - arr[i, 0], arr[i + 1, 1] - arr[i, 1]
        norm = math.hypot(ex, ey)
        if norm < _EPS:
            continue
        # interior normal: left of edge for CCW rings, right for CW
        nx, ny = (-ey / norm, ex / norm) if ccw else (ey / norm, -ex / norm)
        for scale in (1e-7, 1e-9):
            probe = [mx + nx * norm * scale, my + ny * norm * scale]
            if _point_in_ring(probe, arr):
                return probe
    return None


def _point_in_ring(pt: list[float], ring_arr: np.ndarray) -> bool:
    return bool(
        points_in_ring(np.asarray([pt[0]]), np.asarray([pt[1]]), ring_arr)[0]
    )


def _probes_in_ring(
    probes: list[Optional[list[float]]], ring_arr: np.ndarray
) -> list[bool]:
    """``_point_in_ring`` for many probes in one numpy pass; a missing
    probe (None) is outside."""
    have = [p for p in probes if p is not None]
    if not have:
        return [False] * len(probes)
    xy = np.asarray(have, dtype=np.float64)
    inside = iter(points_in_ring(xy[:, 0], xy[:, 1], ring_arr).tolist())
    return [p is not None and next(inside) for p in probes]


def _ring_segments(pts: Ring) -> list[tuple[list[float], list[float]]]:
    """The edges of an open, consecutive-deduped ring, wrap edge last."""
    return [(pts[i], pts[(i + 1) % len(pts)]) for i in range(len(pts))]


# the candidate-pair boxes grow by this fraction of the soup's extent (plus
# _EPS) on every side: wider than any gap the exact test can bridge (its
# collinear tolerance is 1e-9 of the points' spread, its crossing
# parameters have ±_EPS slack), so no pair it would split is skipped
_BOX_TOL = 1e-8


def _candidate_pairs(arr: np.ndarray) -> Iterator[tuple[int, int]]:
    """Index pairs ``i < j``, in lexicographic order, of the segments
    ``arr`` (n × endpoint × xy) whose tolerance-inflated bounding boxes
    touch: the only pairs the exact noding test can split. The box test
    runs in fixed row blocks over the upper triangle, as in
    ``rings_cross``, so peak memory is O(block·n)."""
    n = len(arr)
    if n < 2:
        return
    lo = arr.min(axis=1)
    hi = arr.max(axis=1)
    tol = _BOX_TOL * float((hi.max(axis=0) - lo.min(axis=0)).sum()) + _EPS
    lo -= tol
    hi += tol
    for s in range(0, n, _SELF_INTERSECT_BLOCK):
        e = min(s + _SELF_INTERSECT_BLOCK, n)
        touch = (
            (np.arange(s, n)[None, :] > np.arange(s, e)[:, None])
            & (lo[s:e, None, 0] <= hi[None, s:, 0])
            & (lo[None, s:, 0] <= hi[s:e, None, 0])
            & (lo[s:e, None, 1] <= hi[None, s:, 1])
            & (lo[None, s:, 1] <= hi[s:e, None, 1])
        )
        ii, jj = np.nonzero(touch)
        yield from zip((ii + s).tolist(), (jj + s).tolist())


def _seg_intersection(
    p1: list[float], p2: list[float], q1: list[float], q2: list[float]
) -> Optional[tuple[float, float, list[float]]]:
    """Transversal intersection of open segments (p1,p2) and (q1,q2).
    Returns (t along p, u along q, point) with t,u in (0,1) exclusive of
    shared endpoints; None for parallel/disjoint pairs."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    denom = rx * sy - ry * sx
    if abs(denom) < _EPS:
        return None
    qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
    t = (qpx * sy - qpy * sx) / denom
    u = (qpx * ry - qpy * rx) / denom
    if -_EPS < t < 1 + _EPS and -_EPS < u < 1 + _EPS:
        pt = [p1[0] + t * rx, p1[1] + t * ry]
        return (t, u, pt)
    return None


def _collinear_overlap_params(
    p1: list[float], p2: list[float], q1: list[float], q2: list[float]
) -> Optional[tuple[float, float]]:
    """If segment (q1,q2) is collinear with (p1,p2), return (t1, t2): the
    parameters of q1 and q2 along p. None when not collinear (scale-aware
    tolerance) or p is degenerate."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    rr = rx * rx + ry * ry
    if rr < _EPS:
        return None
    c1 = rx * (q1[1] - p1[1]) - ry * (q1[0] - p1[0])
    c2 = rx * (q2[1] - p1[1]) - ry * (q2[0] - p1[0])
    scale = math.sqrt(rr) * (
        abs(q1[0] - p1[0]) + abs(q1[1] - p1[1])
        + abs(q2[0] - p1[0]) + abs(q2[1] - p1[1])
    ) + _EPS
    if abs(c1) > 1e-9 * scale or abs(c2) > 1e-9 * scale:
        return None
    t1 = ((q1[0] - p1[0]) * rx + (q1[1] - p1[1]) * ry) / rr
    t2 = ((q2[0] - p1[0]) * rx + (q2[1] - p1[1]) * ry) / rr
    return t1, t2


def _node_segments(
    segs: list[tuple[list[float], list[float]]],
) -> list[tuple[list[float], list[float]]]:
    """Node a segment soup: split every segment at its transversal
    crossings, T-junctions (another segment's endpoint in its interior),
    and collinear-overlap points with every other segment — the GEOS
    linework-noding step, so `_faces_from_segments`'s only-meet-at-
    endpoints precondition holds. The exact test runs only on the pairs
    whose boxes touch (``_candidate_pairs``), in all-pairs order, so ties
    sort the same way."""
    splits: dict[int, list[tuple[float, list[float]]]] = {}

    def _add(idx: int, t: float, pt: list[float]) -> None:
        if _EPS < t < 1 - _EPS:
            splits.setdefault(idx, []).append((t, pt))

    arr = np.asarray(segs, dtype=np.float64).reshape(-1, 2, 2)
    for i, j in _candidate_pairs(arr):
        a1, a2 = segs[i]
        b1, b2 = segs[j]
        co = _collinear_overlap_params(a1, a2, b1, b2)
        if co is not None:
            t1, t2 = co
            _add(i, t1, list(b1))
            _add(i, t2, list(b2))
            ro = _collinear_overlap_params(b1, b2, a1, a2)
            if ro is not None:
                u1, u2 = ro
                _add(j, u1, list(a1))
                _add(j, u2, list(a2))
            continue
        hit = _seg_intersection(a1, a2, b1, b2)
        if hit is None:
            continue
        t, u, pt = hit
        _add(i, t, pt)
        _add(j, u, pt)
    out: list[tuple[list[float], list[float]]] = []
    for i, (p1, p2) in enumerate(segs):
        chain = [p1]
        for _t, pt in sorted(splits.get(i, []), key=lambda s: s[0]):
            chain.append(pt)
        chain.append(p2)
        for k in range(len(chain) - 1):
            if _key(chain[k]) != _key(chain[k + 1]):
                out.append((chain[k], chain[k + 1]))
    return out


# --------------------------------------------------------------------------
# ST_MakeValid for a single ring (bowtie / self-touching repair)
# --------------------------------------------------------------------------

def make_valid_ring(ring: Ring) -> list[list[Ring]]:
    """Repair one (possibly self-intersecting) closed ring into a list of
    valid polygons ``[[shell, hole...], ...]`` — GEOS-linework even-odd
    semantics, shells CCW / holes CW, zero-area slivers dropped. A ring
    that is already simple comes back unchanged (as a single shell).

    Node the ring's own segments → extract bounded faces → keep faces
    whose interior has ODD crossing parity against the original walk
    (``points_in_ring`` ray-casts even-odd on any closed walk, simple or
    not) → attach even faces nested inside a kept face as holes
    (disconnected-component case). Adjacent edges meet exactly at their
    shared vertex, so noding them adds no point."""
    pts = remove_repeated_points(ring)
    faces = _faces_from_segments(_node_segments(_ring_segments(_open(pts))))
    if not faces:
        return []
    if len(faces) == 1:
        return [[_close(ensure_orientation(_open(faces[0]), ccw=True))]]
    probes = [_interior_probe(f) for f in faces]
    odd = _probes_in_ring(probes, np.asarray(_close(pts), dtype=np.float64))
    kept = [f for f, keep in zip(faces, odd) if keep]
    polys: list[list[Ring]] = [
        [_close(ensure_orientation(_open(f), ccw=True))] for f in kept
    ]
    kept_arrs = [np.asarray(_close(f), dtype=np.float64) for f in kept]
    for f, probe, keep in zip(faces, probes, odd):
        if keep or probe is None:
            continue
        for i, arr in enumerate(kept_arrs):
            if _point_in_ring(probe, arr):
                polys[i].append(_close(ensure_orientation(_open(f), ccw=False)))
                break
    return polys


def make_valid_area(ring: Ring) -> float:
    """Even-odd area of a repaired ring (Σ |shell| − |holes|)."""
    total = 0.0
    for poly in make_valid_ring(ring):
        total += abs(signed_area(poly[0]))
        for hole in poly[1:]:
            total -= abs(signed_area(hole))
    return total


# --------------------------------------------------------------------------
# Two-ring booleans (union / difference / intersection of two simple rings)
# --------------------------------------------------------------------------

def _overlay(a: Ring, b: Ring, op: str) -> list[list[Ring]]:
    """Planar overlay of two simple rings, GEOS's route for every two-ring
    boolean: node both rings' segments together → extract the bounded
    faces of the combined graph → keep the faces whose interior is
    even-odd inside A or B (``op="union"``), inside A and not B
    (``"difference"``, a − b) or inside both (``"intersection"``) →
    dissolve edges shared by two kept faces → stitch the remaining
    boundary into cycles → classify shells/holes by containment depth.

    Returns ``[[shell, hole...], ...]`` (shells CCW, holes CW). Transversal
    crossings, shared or collinear boundary runs, endpoint touches and
    T-junctions all node the same way. A clip nested strictly inside the
    subject with no boundary contact is a separate component of the graph
    and does not become a hole here (``polygon_difference`` attaches it).
    Raises ValueError when the boundary cannot be stitched into closed
    cycles — callers fall back to the unmerged parts."""
    pa = _open(remove_repeated_points(a))
    pb = _open(remove_repeated_points(b))
    faces = _faces_from_segments(
        _node_segments(_ring_segments(pa) + _ring_segments(pb))
    )
    if not faces:
        return []
    arr_a = np.asarray(_close(pa), dtype=np.float64)
    arr_b = np.asarray(_close(pb), dtype=np.float64)

    def _wanted(in_a: bool, in_b: bool) -> bool:
        if op == "union":
            return in_a or in_b
        if op == "difference":
            return in_a and not in_b
        return in_a and in_b  # intersection

    probes = [_interior_probe(f) for f in faces]
    kept = [
        f
        for f, probe, in_a, in_b in zip(
            faces,
            probes,
            _probes_in_ring(probes, arr_a),
            _probes_in_ring(probes, arr_b),
        )
        if probe is not None and _wanted(in_a, in_b)
    ]
    if not kept:
        return []
    # boundary = undirected noded edges used by exactly ONE kept face,
    # kept DIRECTED as the (CCW) face walks them, so the region interior
    # stays on the edge's left. Cycle extraction follows the same
    # rotation-system successor rule as _faces_from_segments (at the end
    # vertex, the clockwise-next neighbor after the reversed edge) — at a
    # PINCH vertex (two kept faces touching at a point: degree 4) this
    # picks the turn that keeps the contour on one component, where the
    # old undirected linemerge stitch could not close the cycles at all
    # and raised for the caller to fall back to unmerged parts.
    usage: Counter = Counter()
    pts: dict[tuple[float, float], list[float]] = {}
    kept_edges: list[list[tuple]] = []
    for f in kept:
        ks = [_key(p) for p in f]
        for p, k in zip(f, ks):
            pts[k] = list(p)
        edges = list(zip(ks, ks[1:] + ks[:1]))
        kept_edges.append(edges)
        usage.update((u, v) if u < v else (v, u) for u, v in edges)
    directed: set = {
        (u, v)
        for edges in kept_edges
        for u, v in edges
        if usage[(u, v) if u < v else (v, u)] == 1
    }
    out_nbrs: dict[tuple[float, float], list[tuple[float, float]]] = {}
    for u, v in directed:
        out_nbrs.setdefault(u, []).append(v)
    for u, nbrs in out_nbrs.items():
        nbrs.sort(
            key=lambda v: math.atan2(pts[v][1] - pts[u][1], pts[v][0] - pts[u][0])
        )
    visited: set = set()
    closed_cycles: list[Ring] = []
    for e0 in sorted(directed):
        if e0 in visited:
            continue
        cyc: Ring = []
        cur = e0
        while cur not in visited:
            visited.add(cur)
            # u/v, NOT a/b: the function parameters a/b are the input
            # rings — shadowing them here would hand coordinate-key
            # tuples to any later code that touches the rings
            u, v = cur
            cyc.append(pts[u])
            nbrs = out_nbrs.get(v, [])
            if not nbrs:
                raise ValueError("overlay boundary did not close")
            if len(nbrs) == 1:
                cur = (v, nbrs[0])
            else:
                # clockwise-next outgoing direction after the incoming
                # reverse (a as seen from b) — the _faces_from_segments
                # successor rule restricted to boundary edges; purely
                # deterministic, so directed boundary edges partition
                # into cycles and the walk must return to its start
                ang_in = math.atan2(
                    pts[u][1] - pts[v][1], pts[u][0] - pts[v][0]
                )
                cur = (
                    v,
                    min(
                        nbrs,
                        key=lambda c: (
                            ang_in
                            - math.atan2(
                                pts[c][1] - pts[v][1],
                                pts[c][0] - pts[v][0],
                            )
                        )
                        % (2 * math.pi)
                        or (2 * math.pi),
                    ),
                )
        if cur != e0:
            raise ValueError("overlay boundary did not close")
        if len(cyc) >= 3:
            closed_cycles.append(remove_repeated_points(cyc))
    # classify by even-odd containment depth among the cycles (robust to
    # trace direction): even depth is a shell, odd depth a hole of the
    # smallest shell containing it
    arrs = [np.asarray(_close(c), dtype=np.float64) for c in closed_cycles]
    probes = [_interior_probe(_open(c)) for c in closed_cycles]
    polys: list[list[Ring]] = []
    shell_idx: list[int] = []
    depth = []
    for i, probe in enumerate(probes):
        d = 0
        if probe is not None:
            d = sum(
                1
                for j, arr in enumerate(arrs)
                if j != i and _point_in_ring(probe, arr)
            )
        depth.append(d)
    for i, c in enumerate(closed_cycles):
        if depth[i] % 2 == 0:
            polys.append([_close(ensure_orientation(_open(c), ccw=True))])
            shell_idx.append(i)
    for i, c in enumerate(closed_cycles):
        if depth[i] % 2 == 0:
            continue
        probe = probes[i]
        if probe is None:
            continue
        if _wanted(_point_in_ring(probe, arr_a), _point_in_ring(probe, arr_b)):
            # covered region, not a hole: with DISCONNECTED noded graphs
            # (nested rings) a contained component's cycle reads as
            # depth-odd even though its interior belongs to the result
            continue
        containing = [
            k
            for k, si in enumerate(shell_idx)
            if _point_in_ring(probe, arrs[si])
        ]
        if containing:
            k = min(
                containing, key=lambda k: ring_area(closed_cycles[shell_idx[k]])
            )
            polys[k].append(_close(ensure_orientation(_open(c), ccw=False)))
    return polys


def polygon_union(a: Ring, b: Ring) -> list[list[Ring]]:
    """Union of two simple rings as full polygons ``[[shell, hole...],
    ...]`` — shells CCW, holes CW. Two crossing C/U-shapes can enclose a
    hole (a bounded component of the complement); it comes back as an
    interior ring of the merged shell."""
    return _overlay(a, b, "union")


overlay_union = polygon_union


def overlay_difference(a: Ring, b: Ring) -> list[list[Ring]]:
    """a − b via planar overlay (keep faces inside A and NOT inside B).
    A clip nested strictly inside the subject with no boundary contact
    leaves ``[[a]]``: the hole is the CALLER's to attach, as with
    ``ring_difference`` (``polygon_difference`` attaches it)."""
    return _overlay(a, b, "difference")


def overlay_intersection(a: Ring, b: Ring) -> list[list[Ring]]:
    """a ∩ b via planar overlay (keep faces inside BOTH)."""
    return _overlay(a, b, "intersection")


def ring_union(a: Ring, b: Ring) -> list[Ring]:
    """Union of two simple rings → list of closed CCW SHELLS only (any
    union-enclosed hole is dropped); use ``polygon_union`` for the
    hole-aware form."""
    return [p[0] for p in _overlay(a, b, "union")]


def ring_difference(a: Ring, b: Ring) -> list[Ring]:
    """a − b → list of closed CCW shells ONLY. When ``b`` nests strictly
    inside ``a`` (no boundary contact) the result is ``[a]`` and the hole
    is the CALLER's to attach (the relation-assembly path handles nested
    inners as interior rings before ever calling this); use
    ``polygon_difference`` for the hole-aware general form. (Two simple
    rings whose boundaries cross cannot produce a hole in A−B or A∩B —
    every component of B∩A touches ∂A — so shells-only is lossless here,
    unlike union.)"""
    return [p[0] for p in _overlay(a, b, "difference")]


def polygon_difference(a: Ring, b: Ring) -> list[list[Ring]]:
    """a − b as full polygons ``[[shell, hole...], ...]`` — the hole-aware
    general form: a clip nested strictly inside the subject becomes an
    interior ring instead of silently vanishing."""
    polys = _overlay(a, b, "difference")
    if (
        len(polys) == 1
        and len(polys[0]) == 1
        and ring_area(polys[0][0]) == ring_area(a)
    ):
        # the subject came back whole (``signed_area`` sums exactly, so any
        # rotation of a's vertex cycle has a's area to the bit): a clip
        # whose interior lies inside it is a nested hole
        pb = _open(remove_repeated_points(b))
        probe = _interior_probe(pb)
        if probe is not None and _point_in_ring(
            probe, np.asarray(_close(remove_repeated_points(a)), dtype=np.float64)
        ):
            return [[polys[0][0], _close(ensure_orientation(pb, ccw=False))]]
    return polys


def ring_intersection(a: Ring, b: Ring) -> list[Ring]:
    """a ∩ b → list of closed CCW shells (lossless: see ``ring_difference``)."""
    return [p[0] for p in _overlay(a, b, "intersection")]


# Pairwise-union fixpoint is O(parts²) per round; OSM multipolygon
# relations rarely exceed a few dozen CROSSING outer parts (disjoint parts
# never enter the fixpoint), so above this cap the kernel bails to the
# unmerged MultiPolygon-of-parts with a warning instead of quadratic-
# looping a pathological thousand-member relation (VERDICT r02 #10).
UNION_ALL_MAX_PARTS = 64


def _shell_in_hole(shell: Ring, poly: list[Ring]) -> bool:
    """True iff ``shell``'s interior sits inside one of ``poly``'s holes
    (island-in-lake: such polygons must NOT merge)."""
    if len(poly) < 2:
        return False
    probe = _interior_probe(_open(shell))
    if probe is None:
        return False
    return any(
        _point_in_ring(probe, np.asarray(_close(h), dtype=np.float64))
        for h in poly[1:]
    )


def union_all_polygons(
    rings: list[Ring], max_parts: int = UNION_ALL_MAX_PARTS
) -> list[list[Ring]]:
    """Iterative pairwise union of many shells (ST_Union_Agg for the
    relation outer-parts case) as full polygons ``[[shell, hole...],
    ...]``: merge any two whose shells cross or nest until a fixpoint of
    disjoint polygons remains. Union-enclosed holes (two crossing
    C-shapes) are kept as interior rings; a later part that covers a hole
    shrinks it via difference. Every pairwise operation is a planar
    overlay, so parts that cross, share an edge run or do both merge the
    same way. Above ``max_parts``
    input shells the fixpoint is skipped (documented pathology cap) and
    the parts come back unmerged.

    Known divergence from GEOS, area-neutral: a part nested inside
    another part's HOLE stays a separate polygon (island-in-lake) even
    when it touches the hole's rim — GEOS would fold the rim-touching
    island into the outer polygon's boundary. Net area and point-in-set
    semantics are identical; only the part decomposition differs."""
    cleaned = [
        _close(ensure_orientation(_open(remove_repeated_points(r)), ccw=True))
        for r in rings
        if len(remove_repeated_points(r)) >= 3
    ]
    if len(cleaned) > max_parts:
        warnings.warn(
            f"union_all over {len(cleaned)} parts exceeds the "
            f"{max_parts}-part fixpoint cap; returning unmerged parts",
            stacklevel=2,
        )
        return [[r] for r in cleaned]
    polys: list[list[Ring]] = [[r] for r in cleaned]
    changed = True
    while changed and len(polys) > 1:
        changed = False
        for i in range(len(polys)):
            for j in range(i + 1, len(polys)):
                a, b = polys[i], polys[j]
                if _shell_in_hole(b[0], a) or _shell_in_hole(a[0], b):
                    continue
                try:
                    merged = polygon_union(a[0], b[0])
                except Exception:
                    merged = []
                if len(merged) != 1:
                    continue
                shell = merged[0][0]
                holes = list(merged[0][1:])
                # surviving pre-existing holes. The union's interior is
                # A_int ∪ B_int, so a hole h of A survives as
                # h − B = (h − shell_B) ∪ ⋃_j (h ∩ hole_Bj): the part
                # outside the other SHELL, plus the part that the other
                # shell covers but one of the other polygon's own HOLES
                # re-opens (two merged parts with overlapping enclosed
                # courtyards — ADVICE r03: subtracting only the other
                # shell filled the shared courtyard). The h∩oh pieces are
                # emitted ONCE per unordered hole pair — processing hole
                # h_B against A would re-produce the same region.
                for h, other in (
                    [(h, b[0]) for h in a[1:]] + [(h, a[0]) for h in b[1:]]
                ):
                    try:
                        pieces = ring_difference(h, other)
                    except Exception:
                        pieces = [h]
                    holes.extend(
                        _close(ensure_orientation(_open(p), ccw=False))
                        for p in pieces
                    )
                for ha in a[1:]:
                    for hb in b[1:]:
                        try:
                            pieces = ring_intersection(ha, hb)
                        except Exception:
                            pieces = []
                        holes.extend(
                            _close(ensure_orientation(_open(p), ccw=False))
                            for p in pieces
                            if ring_area(p) > _EPS
                        )
                polys = [p for k, p in enumerate(polys) if k not in (i, j)]
                polys.append([shell, *holes])
                changed = True
                break
            if changed:
                break
    return polys


def union_all(rings: list[Ring]) -> list[Ring]:
    """Shells-only view of ``union_all_polygons`` (kept for callers that
    need the merged outer boundaries; union-enclosed holes are dropped —
    use the polygon form when holes matter)."""
    return [p[0] for p in union_all_polygons(rings)]


def ring_area(ring: Ring) -> float:
    return abs(signed_area(_close(ring)))
