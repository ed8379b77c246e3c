"""Seeded synthetic OSM PBF generator with its own ground truth.

The file covers the F1 fixture scenarios (FIXTURES.md) at scale:

- a jittered node grid, some nodes tagged (``name``, ``name:*``, ``addr:*``),
  some carrying only metadata keys (``created_by``), which are no features;
- closed building ways (Polygon), open street ways (LineString), closed
  ``area=no`` ways (LineString), closed 3-point ways (LineString), 1-ref ways
  and ways with a dangling node ref (both dropped);
- multipolygon relations with an outer ring split over two ways and an inner
  ring (Polygon), with two outers one of them NULL-role (MultiPolygon), with a
  node member that must be ignored (Polygon), with an unclosed ring and with
  a member way that has a dangling ref (both dropped), plus ``type=route``
  relations (ignored).

``make_pbf`` writes the file with ``sources.pbf_encode.write_pbf`` (several
OSMData blobs) and returns the expected feature counts per
``kind/geometry_type``: with no filter, with ``TAGS_FILTER`` and with the
filter polygon. The same seed gives a byte-identical file.

The filter polygon is an axis-aligned L shape whose edges lie half a cell
between grid lines; node jitter stays within a fifth of a cell, so whether a
node lies inside never depends on rounding.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field

from quackosm_spark.sources.pbf_encode import write_pbf

LON0, LAT0 = 13.0, 52.0
CELL = 0.001
JITTER = 0.2

#: Positive filter with a wildcard key; ``shop`` matches nothing, so its
#: exploded column is empty and ``drop_empty_columns`` removes it.
TAGS_FILTER = {"building": True, "highway": True, "addr:*": True, "shop": True}

_ADDR_KEYS = ("addr:city", "addr:street", "addr:housenumber")
_NAME_KEYS = ("name:en", "name:de", "name:pl")
_AMENITIES = ("cafe", "bench", "school", "pharmacy", "bank")
_HIGHWAYS = ("residential", "service", "footway", "tertiary")


@dataclass
class Synth:
    """Elements of one synthetic file plus what a conversion must return."""

    elements: list[dict] = field(default_factory=list)
    node_ij: dict[int, tuple[int, int]] = field(default_factory=dict)
    # id -> (feature geometry type or None when dropped, raw tags, node refs)
    ways: dict[int, tuple] = field(default_factory=dict)
    # id -> (geometry type or None, tags, member way ids)
    relations: dict[int, tuple] = field(default_factory=dict)


def _stripped_nonempty(tags: dict) -> bool:
    from quackosm_spark.constants import (
        METADATA_TAG_PREFIXES_TO_IGNORE,
        METADATA_TAGS_TO_IGNORE,
    )

    return any(
        k not in METADATA_TAGS_TO_IGNORE
        and not any(k.startswith(p) for p in METADATA_TAG_PREFIXES_TO_IGNORE)
        for k in tags
    )


def _matches_filter(tags: dict) -> bool:
    return any(
        k in ("building", "highway", "shop") or k.startswith("addr:") for k in tags
    )


def l_polygon(grid: int, rng: random.Random) -> tuple[dict, tuple]:
    """Non-convex L-shaped filter polygon over part of the grid.

    Returns the GeoJSON-style geometry and the inclusive node-index ranges
    ``(i0, i1, i2, j0, j1, j2)``: rows ``i0..i1`` span columns ``j0..j2``,
    rows ``i1+1..i2`` span columns ``j0..j1``."""
    # fixed proportions, seeded by a cell or two, so every seed filters a
    # similar share of the grid
    i0 = grid // 8 + rng.randint(0, 2)
    i1 = grid // 2 + rng.randint(-2, 2)
    i2 = grid * 7 // 8 - rng.randint(0, 2)
    j0 = grid // 8 + rng.randint(0, 2)
    j1 = grid // 2 + rng.randint(-2, 2)
    j2 = grid * 7 // 8 - rng.randint(0, 2)

    def x(j: float) -> float:
        return round(LON0 + j * CELL, 7)

    def y(i: float) -> float:
        return round(LAT0 + i * CELL, 7)

    lo_i, lo_j = i0 - 0.5, j0 - 0.5
    ring = [
        [x(lo_j), y(lo_i)],
        [x(j2 + 0.5), y(lo_i)],
        [x(j2 + 0.5), y(i1 + 0.5)],
        [x(j1 + 0.5), y(i1 + 0.5)],
        [x(j1 + 0.5), y(i2 + 0.5)],
        [x(lo_j), y(i2 + 0.5)],
        [x(lo_j), y(lo_i)],
    ]
    return {"type": "Polygon", "coordinates": [ring]}, (i0, i1, i2, j0, j1, j2)


def _inside(ij: tuple[int, int], ranges: tuple) -> bool:
    i, j = ij
    i0, i1, i2, j0, j1, j2 = ranges
    return (i0 <= i <= i1 and j0 <= j <= j2) or (i1 < i <= i2 and j0 <= j <= j1)


def generate(seed: int, grid: int) -> Synth:
    rng = random.Random(seed)
    s = Synth()
    n_nodes = grid * grid

    def nid(i: int, j: int) -> int:
        return 1 + i * grid + j

    nodes = []
    for i in range(grid):
        for j in range(grid):
            lon = round(LON0 + (j + rng.uniform(-JITTER, JITTER)) * CELL, 7)
            lat = round(LAT0 + (i + rng.uniform(-JITTER, JITTER)) * CELL, 7)
            tags = None
            r = rng.random()
            if r < 0.04:
                tags = {"amenity": rng.choice(_AMENITIES), "name": f"poi {i}-{j}"}
                if rng.random() < 0.5:
                    tags[rng.choice(_NAME_KEYS)] = f"poi {i}-{j}"
                if rng.random() < 0.3:
                    tags["source"] = "survey"
            elif r < 0.07:
                tags = {k: f"{k[5:]} {i}" for k in _ADDR_KEYS[: rng.randint(1, 3)]}
            elif r < 0.08:
                tags = {"created_by": "JOSM"}
            nodes.append({"kind": "node", "id": nid(i, j), "lat": lat, "lon": lon,
                          "tags": tags})
            s.node_ij[nid(i, j)] = (i, j)

    ways: list[dict] = []
    next_way = [1]

    def add_way(refs: list[int], tags: dict | None, gtype: str | None) -> int:
        wid = next_way[0]
        next_way[0] += 1
        ways.append({"kind": "way", "id": wid, "refs": refs, "tags": tags})
        s.ways[wid] = (gtype, tags or {}, refs)
        return wid

    def square(i: int, j: int, size: int) -> list[int]:
        return [nid(i, j), nid(i, j + size), nid(i + size, j + size),
                nid(i + size, j), nid(i, j)]

    # buildings on even cells, streets along every tenth row
    for i in range(0, grid - 1, 2):
        for j in range(0, grid - 1, 2):
            r = rng.random()
            if r < 0.35:
                tags = {"building": rng.choice(("yes", "house", "garage"))}
                if rng.random() < 0.4:
                    tags.update({k: f"{k[5:]} {i}/{j}" for k in _ADDR_KEYS})
                if rng.random() < 0.2:
                    tags["source"] = "bing"
                add_way(square(i, j, 1), tags, "Polygon")
            elif r < 0.37:
                # closed way, area=no: stays a LineString
                add_way(square(i, j, 1), {"highway": "pedestrian", "area": "no"},
                        "LineString")
            elif r < 0.38:
                # closed 3-point way: fewer than 4 distinct points
                add_way([nid(i, j), nid(i, j + 1), nid(i, j)], {"building": "yes"},
                        "LineString")
            elif r < 0.39:
                add_way([nid(i, j)], {"highway": "service"}, None)  # 1-ref way
            elif r < 0.40:
                add_way([nid(i, j), n_nodes + 1 + i * grid + j], {"highway": "service"},
                        None)  # dangling ref
            elif r < 0.41:
                add_way([nid(i, j), nid(i + 1, j)], {"created_by": "JOSM"}, None)
    for i in range(5, grid, 10):
        for j in range(0, grid - 1, 12):
            refs = [nid(i, jj) for jj in range(j, min(j + 12, grid - 1) + 1)]
            tags = {"highway": rng.choice(_HIGHWAYS), "name": f"street {i}/{j}"}
            if rng.random() < 0.3:
                tags["name:en"] = f"street {i}/{j}"
            add_way(refs, tags, "LineString")

    # relations in 8x8 blocks, off the building cells' phase
    relations: list[dict] = []
    next_rel = [1]

    def add_rel(members: list[tuple[str, int, str | None]], tags: dict,
                gtype: str | None) -> None:
        rid = next_rel[0]
        next_rel[0] += 1
        relations.append({
            "kind": "relation", "id": rid, "tags": tags,
            "refs": [m[1] for m in members],
            "ref_types": [m[0] for m in members],
            "ref_roles": [m[2] for m in members],
        })
        s.relations[rid] = (gtype, tags, [m[1] for m in members if m[0] == "way"])

    for i in range(1, grid - 8, 8):
        for j in range(1, grid - 8, 8):
            r = rng.random()
            area = {"landuse": "forest"} if rng.random() < 0.5 else {"building": "yes"}
            if r < 0.25:
                # outer ring split over two open ways, one inner ring
                a = add_way([nid(i, j), nid(i, j + 4), nid(i + 4, j + 4)], None, None)
                b = add_way([nid(i + 4, j + 4), nid(i + 4, j), nid(i, j)], None, None)
                c = add_way(square(i + 1, j + 1, 2), None, None)
                add_rel([("way", a, "outer"), ("way", b, "outer"), ("way", c, "inner")],
                        {"type": "multipolygon", **area}, "Polygon")
            elif r < 0.40:
                # two outers, one of them with a NULL role
                a = add_way(square(i, j, 2), None, None)
                b = add_way(square(i + 4, j + 4, 2), None, None)
                add_rel([("way", a, "outer"), ("way", b, None)],
                        {"type": "multipolygon", **area}, "MultiPolygon")
            elif r < 0.48:
                # a node member is ignored
                a = add_way(square(i, j, 3), None, None)
                add_rel([("node", nid(i + 1, j + 1), None), ("way", a, "outer")],
                        {"type": "multipolygon", **area}, "Polygon")
            elif r < 0.53:
                # unclosed ring: the whole relation is dropped
                a = add_way([nid(i, j), nid(i, j + 3), nid(i + 3, j + 3), nid(i + 3, j)],
                            None, None)
                add_rel([("way", a, "outer")], {"type": "multipolygon", **area}, None)
            elif r < 0.56:
                # member way with a dangling ref: the relation is invalid
                a = add_way(square(i, j, 2)[:-1] + [n_nodes + 7 + i * grid + j,
                                                    nid(i, j)], None, None)
                add_rel([("way", a, "outer")], {"type": "multipolygon", **area}, None)
            elif r < 0.62:
                a = add_way([nid(i, j), nid(i, j + 6)], None, None)
                add_rel([("way", a, None)], {"type": "route", "route": "bus"}, None)

    s.elements = nodes + ways + relations
    return s


def _way_valid(s: Synth, refs: list[int]) -> bool:
    return len(refs) >= 2 and all(r in s.node_ij for r in refs)


def ground_truth(s: Synth, tags_filter: bool, ranges: tuple | None) -> dict[str, int]:
    """Expected ``kind/GeometryType`` counts, with ``TAGS_FILTER`` applied
    when ``tags_filter`` is set and the L-polygon filter when ``ranges`` is
    given (a way or relation intersects the polygon when one of its nodes
    lies inside, as the pipeline defines it)."""
    counts: Counter = Counter()

    def keep(tags: dict, node_ids: list[int]) -> bool:
        if not tags or not _stripped_nonempty(tags):
            return False
        if tags_filter and not _matches_filter(tags):
            return False
        return ranges is None or any(
            _inside(s.node_ij[n], ranges) for n in node_ids if n in s.node_ij
        )

    for e in s.elements:
        if e["kind"] == "node" and keep(e["tags"] or {}, [e["id"]]):
            counts["node/Point"] += 1
    for gtype, tags, refs in s.ways.values():
        if gtype is not None and _way_valid(s, refs) and keep(tags, refs):
            counts[f"way/{gtype}"] += 1
    for gtype, tags, way_ids in s.relations.values():
        if gtype is None:
            continue
        refs = [n for w in way_ids for n in s.ways[w][2]]
        if keep(tags, refs):
            counts[f"relation/{gtype}"] += 1
    return dict(sorted(counts.items()))


def make_pbf(path: str, seed: int, grid: int, elements_per_block: int = 4000) -> dict:
    """Write the seeded file; return its ground truth without a filter, with
    ``TAGS_FILTER`` and with the filter polygon, and the polygon itself."""
    s = generate(seed, grid)
    write_pbf(path, s.elements, elements_per_block=elements_per_block)
    polygon, ranges = l_polygon(grid, random.Random(seed * 7919 + 1))
    lons = [e["lon"] for e in s.elements if e["kind"] == "node"]
    lats = [e["lat"] for e in s.elements if e["kind"] == "node"]
    return {
        "elements": len(s.elements),
        "nofilter": ground_truth(s, False, None),
        "tags": ground_truth(s, True, None),
        "geometry": ground_truth(s, False, ranges),
        "geometry_filter": polygon,
        "node_extent": (min(lons), min(lats), max(lons), max(lats)),
    }
