"""Pure-numpy geometry kernels used inside Arrow-vectorized UDFs.

These replace the DuckDB-spatial scalar/aggregate functions the reference
relies on (SURVEY §2.8): ring closure, line merging, point-in-polygon,
containment, orientation, and the Hilbert key for spatial output sorting.

All kernels operate on plain coordinate lists (``[[x, y], ...]``) or numpy
arrays — no geometry library required.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np

Coord = Sequence[float]
Ring = list[list[float]]


# --------------------------------------------------------------------------
# Ring predicates (replace ST_StartPoint/ST_EndPoint/ST_NPoints checks,
# reference pbf_file_reader.py:3244-3256, 3452-3463)
# --------------------------------------------------------------------------

def is_closed(coords: Ring) -> bool:
    return len(coords) >= 2 and coords[0] == coords[-1]


def remove_repeated_points(coords: Ring) -> Ring:
    """ST_RemoveRepeatedPoints equivalent (consecutive duplicates only)."""
    if not coords:
        return []
    out = [coords[0]]
    for pt in coords[1:]:
        if pt != out[-1]:
            out.append(pt)
    return out


def distinct_point_count(coords: Ring) -> int:
    """Number of points after consecutive-duplicate removal (the reference's
    closed-way polygon test uses ST_NPoints >= 4 on the deduped ring,
    pbf_file_reader.py:3244-3250)."""
    return len(remove_repeated_points(coords))


def signed_area(ring: Ring) -> float:
    """Shoelace signed area; > 0 ⇒ counter-clockwise.

    Summed with ``math.fsum`` (exact): reversing a ring negates every
    shoelace term exactly, so the sign of the total is guaranteed to flip
    under reversal and a degenerate (true-zero-area) ring reports exactly
    0.0 — ``np.sum``'s rounding could leave a same-signed residual on both
    orientations, making ``ensure_orientation`` non-idempotent.
    """
    if len(ring) < 3:
        return 0.0
    arr = np.asarray(ring, dtype=np.float64)
    x, y = arr[:, 0], arr[:, 1]
    return math.fsum(x * np.roll(y, -1) - np.roll(x, -1) * y) / 2.0


def ensure_orientation(ring: Ring, ccw: bool = True) -> Ring:
    area = signed_area(ring)
    if (area < 0 and ccw) or (area > 0 and not ccw):
        return ring[::-1]
    return ring


# --------------------------------------------------------------------------
# Line merging (replaces ST_LineMerge(ST_Collect(...)) + ST_Dump,
# reference pbf_file_reader.py:3440-3448)
# --------------------------------------------------------------------------

def linemerge(lines: list[Ring]) -> list[Ring]:
    """Stitch line segments sharing endpoints into maximal linestrings.

    Matches ST_LineMerge semantics for the multipolygon-ring use case:
    segments are joined end-to-end (reversing as needed); junction points
    where 3+ segments meet are left unmerged. Output order is deterministic
    (input order of the first segment of each merged chain).
    """
    if not lines:
        return []
    lines = [list(map(list, l)) for l in lines if len(l) >= 2]
    # endpoint → list of (line index, is_start)
    endpoints: dict[tuple[float, float], list[tuple[int, bool]]] = {}
    for i, line in enumerate(lines):
        endpoints.setdefault(tuple(line[0]), []).append((i, True))
        endpoints.setdefault(tuple(line[-1]), []).append((i, False))

    used = [False] * len(lines)
    merged: list[Ring] = []
    for i in range(len(lines)):
        if used[i]:
            continue
        used[i] = True
        chain = list(lines[i])
        # extend forward from the tail, then backward from the head
        for direction in ("tail", "head"):
            while True:
                node = tuple(chain[-1]) if direction == "tail" else tuple(chain[0])
                # GEOS ST_LineMerge semantics: merge only through nodes where
                # exactly two line endpoints meet — total degree, not
                # remaining-unused degree, else a 3-way junction merges once
                # one branch is consumed.
                incident = endpoints.get(node, [])
                if len(incident) != 2:
                    break
                candidates = [(j, at_start) for (j, at_start) in incident if not used[j]]
                if len(candidates) != 1:
                    break
                j, at_start = candidates[0]
                used[j] = True
                nxt = lines[j] if at_start else lines[j][::-1]
                if direction == "tail":
                    chain.extend(nxt[1:])
                else:
                    prev = nxt[::-1]
                    chain = prev[:-1] + chain
        merged.append(chain)
    return merged


# --------------------------------------------------------------------------
# Point-in-polygon (replaces STRtree 'intersects' prefilter + ST_Within,
# reference _intersection.py:14-55, pbf_file_reader.py:3332-3343)
# --------------------------------------------------------------------------

def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting; boundary points count as inside.

    ``ring``: (K, 2) closed or open array. O(M·K) with numpy broadcasting,
    chunk the points upstream if M·K gets large.
    """
    rx, ry = ring[:, 0], ring[:, 1]
    rx2, ry2 = np.roll(rx, -1), np.roll(ry, -1)
    if ring.shape[0] and rx[0] == rx2[-1] and ry[0] == ry2[-1]:
        # closed ring: the wraparound edge duplicates the first edge; keep it,
        # degenerate zero-length edges never flip the crossing parity.
        pass
    px = xs[:, None]
    py = ys[:, None]
    # edge straddles the horizontal line through the point
    cond = (ry[None, :] > py) != (ry2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = rx[None, :] + (py - ry[None, :]) / (ry2[None, :] - ry[None, :]) * (
            rx2[None, :] - rx[None, :]
        )
    crossings = cond & (px < xint)
    inside = crossings.sum(axis=1) % 2 == 1
    # boundary tolerance: treat points exactly on a vertex as inside
    on_vertex = ((px == rx[None, :]) & (py == ry[None, :])).any(axis=1)
    return inside | on_vertex


def points_in_polygon(
    xs: np.ndarray, ys: np.ndarray, polygon: list[Ring]
) -> np.ndarray:
    """polygon = [outer, hole1, hole2, ...]."""
    if not polygon:
        return np.zeros(len(xs), dtype=bool)
    mask = points_in_ring(xs, ys, np.asarray(polygon[0], dtype=np.float64))
    for hole in polygon[1:]:
        mask &= ~points_in_ring(xs, ys, np.asarray(hole, dtype=np.float64))
    return mask


def points_in_multipolygon(
    xs: np.ndarray, ys: np.ndarray, polygons: list[list[Ring]]
) -> np.ndarray:
    mask = np.zeros(len(xs), dtype=bool)
    for poly in polygons:
        mask |= points_in_polygon(xs, ys, poly)
    return mask


def _points_on_boundary(
    xs: np.ndarray, ys: np.ndarray, ring_arr: np.ndarray, tol: float
) -> np.ndarray:
    """Per point: min distance to any ring segment < tol (vectorized,
    blocked rows so two 2000-vertex rings never allocate K×K floats)."""
    a = ring_arr[:-1]
    b = ring_arr[1:]
    d = b - a
    dd = (d * d).sum(axis=1)
    dd_safe = np.where(dd < 1e-300, 1.0, dd)
    on = np.zeros(len(xs), dtype=bool)
    block = 256
    for s in range(0, len(xs), block):
        e = min(s + block, len(xs))
        px = xs[s:e, None] - a[None, :, 0]
        py = ys[s:e, None] - a[None, :, 1]
        t = (px * d[None, :, 0] + py * d[None, :, 1]) / dd_safe[None, :]
        t = np.clip(t, 0.0, 1.0)
        ddx = px - t * d[None, :, 0]
        ddy = py - t * d[None, :, 1]
        dist2 = ddx * ddx + ddy * ddy
        on[s:e] = (dist2.min(axis=1) <= tol * tol)
    return on


def ring_within_ring(inner: Ring, outer: Ring) -> bool:
    """ST_Within for the hole-assignment join (J7): every inner vertex is
    strictly inside the outer ring OR on its boundary, and at least one
    is strictly inside. Boundary tolerance matters on real OSM data —
    inner rings commonly TOUCH the outer ring at shared nodes, and GEOS's
    ST_WITHIN (the reference's join predicate, pbf_file_reader.py:3340)
    counts boundary contact as within; a pure ray-cast on an exactly-on-
    boundary vertex is a coin flip."""
    arr = np.asarray(remove_repeated_points(inner), dtype=np.float64)
    if arr.shape[0] == 0:
        return False
    out = np.asarray(outer, dtype=np.float64)
    inside = points_in_ring(arr[:, 0], arr[:, 1], out)
    if inside.all():
        return True
    span = max(
        out[:, 0].max() - out[:, 0].min(),
        out[:, 1].max() - out[:, 1].min(),
        1e-30,
    )
    tol = 1e-9 * span
    rest = ~inside
    on = _points_on_boundary(arr[rest, 0], arr[rest, 1], out, tol)
    if not on.all():
        return False
    # boundary-only contact is NOT within — require some strict interior
    return bool(inside.any())


# --------------------------------------------------------------------------
# Hilbert curve key (spatial output sort, SURVEY O3)
# --------------------------------------------------------------------------

def hilbert_index(
    xs: np.ndarray,
    ys: np.ndarray,
    extent: tuple[float, float, float, float],
    order: int = 16,
) -> np.ndarray:
    """Vectorized Hilbert-curve distance of points scaled into ``extent``.

    Standard xy→d bit-twiddling (public algorithm, e.g. Wikipedia
    "Hilbert curve"), vectorized over numpy arrays. ``order=16`` → 32-bit
    keys, plenty of resolution for row-group clustering.

    The spatial sort computes the same keys in the JVM
    (``plans.output.with_hilbert_key``); this function is its test oracle.
    A NaN centroid has no defined key here (numpy casts NaN to an
    arbitrary integer); the JVM key is null for it.
    """
    minx, miny, maxx, maxy = extent
    n = np.int64(1) << order
    spanx = maxx - minx or 1.0
    spany = maxy - miny or 1.0
    x = np.clip(((xs - minx) / spanx * (int(n) - 1)), 0, int(n) - 1).astype(np.int64)
    y = np.clip(((ys - miny) / spany * (int(n) - 1)), 0, int(n) - 1).astype(np.int64)
    rx = np.zeros_like(x)
    ry = np.zeros_like(y)
    d = np.zeros_like(x)
    s = np.int64(int(n) // 2)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        s //= 2
    return d


def orient_polygon_rings(rings: list[Ring]) -> list[Ring]:
    """C10 normalize-on-write analogue of ST_MakeValid for the shapes this
    pipeline produces (reference applies ST_MakeValid before every geometry
    write, pbf_file_reader.py:3592-3644). Full GEOS make_valid repairs
    arbitrary self-intersections; OSM way/relation assembly already
    guarantees closed ≥4-point rings, so the remaining normalization is
    winding order: exterior CCW, holes CW — the orientation GeoParquet
    consumers (and the OGC right-hand rule) expect."""
    if not rings:
        return rings
    out = [ensure_orientation(rings[0], ccw=True)]
    out.extend(ensure_orientation(r, ccw=False) for r in rings[1:])
    return out


def centroid_of_bounds(b: tuple[float, float, float, float]) -> tuple[float, float]:
    return ((b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0)


def haversine_like_extent_union(
    a: tuple[float, float, float, float] | None,
    b: tuple[float, float, float, float],
) -> tuple[float, float, float, float]:
    if a is None or any(math.isnan(v) for v in a):
        return b
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))
