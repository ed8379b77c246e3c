"""Semantics of the element → feature plan on PBF inputs built in the repo.

Two inputs: the seeded synthetic file of the conversion benchmark
(``convbench/synth_pbf``, which carries its own ground truth per kind and
geometry type), and a small hand-built file with one element per edge case:
required nodes outside the filter polygon, relations with an unresolvable
member way, a relation that only intersects through a member way the filter
does not keep, a relation without way members, closed and dangling ways,
custom SQL over the metadata-stripped tags, ``filter_osm_ids`` with no ids
for a kind, and overlapping input files.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from quackosm_spark.functions import convert_pbf_to_dataframe
from quackosm_spark.geometry import wkb
from quackosm_spark.sources.pbf_encode import write_pbf

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "convbench"))
from synth_pbf import TAGS_FILTER, make_pbf  # noqa: E402

_WKB_TYPES = {1: "Point", 2: "LineString", 3: "Polygon", 4: "MultiPoint",
              5: "MultiLineString", 6: "MultiPolygon", 7: "GeometryCollection"}

#: the filter polygon of the hand-built file: the unit square
UNIT_SQUARE = {"type": "Polygon",
               "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]}


def _node(id, lon, lat, tags=None):
    return {"kind": "node", "id": id, "lon": lon, "lat": lat, "tags": tags}


def _way(id, refs, tags=None):
    return {"kind": "way", "id": id, "refs": refs, "tags": tags}


def _relation(id, members, tags):
    return {"kind": "relation", "id": id, "tags": tags,
            "refs": [m[1] for m in members],
            "ref_types": [m[0] for m in members],
            "ref_roles": [m[2] for m in members]}


INSIDE = [[0.2, 0.2], [0.8, 0.2], [0.8, 0.8], [0.2, 0.8], [0.2, 0.2]]
OUTSIDE = [[2.0, 0.2], [2.5, 0.2], [2.5, 0.8], [2.0, 0.8], [2.0, 0.2]]

EDGE_CASES = [
    # a square inside the unit square (nodes 1-4) and one outside it (5-8)
    _node(1, 0.2, 0.2), _node(2, 0.8, 0.2), _node(3, 0.8, 0.8), _node(4, 0.2, 0.8),
    _node(5, 2.0, 0.2), _node(6, 2.5, 0.2), _node(7, 2.5, 0.8), _node(8, 2.0, 0.8),
    # one metadata key besides the real one: custom SQL sees a single key
    _node(9, 0.5, 0.5, {"amenity": "bench", "source": "survey"}),
    _node(10, 3.0, 3.0, {"amenity": "cafe", "name": "Far"}),
    _node(11, 0.4, 0.4, {"created_by": "editor"}),  # metadata only: no feature
    _way(101, [1, 2, 3, 4, 1], {"building": "yes"}),  # closed: Polygon
    _way(102, [4, 5], {"highway": "service"}),  # leaves the unit square
    _way(103, [5, 6, 7, 8, 5], {"building": "yes"}),  # outside
    _way(104, [1, 2, 999], {"highway": "path"}),  # dangling ref: dropped
    _way(105, [5, 6, 7, 8, 5]),  # untagged members
    _way(106, [1, 2, 3, 4, 1]),
    _way(108, [3, 998, 4]),  # member with a dangling ref
    _way(109, [7]),  # member with one ref
    # intersects the unit square only through 106, which no filter keeps
    _relation(201, [("way", 105, "outer"), ("way", 106, "outer")],
              {"type": "multipolygon", "landuse": "forest"}),
    _relation(202, [("way", 106, "outer"), ("way", 108, "inner")],
              {"type": "multipolygon", "natural": "water"}),
    _relation(203, [("way", 106, "outer"), ("way", 109, "outer")],
              {"type": "multipolygon", "natural": "wood"}),
    _relation(204, [("way", 106, "outer"), ("way", 777, "outer")],  # 777 is missing
              {"type": "multipolygon", "natural": "scrub"}),
    _relation(205, [("node", 1, None), ("node", 2, None)],  # no way members
              {"type": "multipolygon", "building": "yes"}),
    _relation(206, [("way", 103, "outer")],
              {"type": "boundary", "boundary": "administrative"}),
]

#: overlaps EDGE_CASES (nodes 1-4 and 9, way 101) and adds node 12
OVERLAP = [e for e in EDGE_CASES if e["id"] in (1, 2, 3, 4, 9, 101)] + [
    _node(12, 0.6, 0.6, {"amenity": "bench"}),
]


@pytest.fixture(scope="module")
def edge_pbf(tmp_path_factory):
    return write_pbf(str(tmp_path_factory.mktemp("edges") / "edges.osm.pbf"),
                     EDGE_CASES, elements_per_block=7)


@pytest.fixture(scope="module")
def overlap_pbf(tmp_path_factory):
    return write_pbf(str(tmp_path_factory.mktemp("edges") / "overlap.osm.pbf"), OVERLAP)


def _features(spark, paths, **kwargs):
    df = convert_pbf_to_dataframe(spark, paths, explode_tags=False, **kwargs)
    return {r["feature_id"]: (dict(r["tags"]), wkb.loads(bytes(r["geometry"])))
            for r in df.collect()}


def _rounded(coords):
    if isinstance(coords[0], (int, float)):
        return [round(c, 7) for c in coords]
    return [_rounded(c) for c in coords]


def test_edge_cases_without_filter(spark, edge_pbf):
    got = _features(spark, edge_pbf)
    assert sorted(got) == ["node/10", "node/9", "relation/201", "relation/206",
                           "way/101", "way/102", "way/103"]
    assert got["node/9"][0] == {"amenity": "bench"}
    assert got["way/101"][1] == {"type": "Polygon", "coordinates": [INSIDE]}
    assert got["way/102"][1] == {"type": "LineString",
                                 "coordinates": [[0.2, 0.8], [2.0, 0.2]]}
    assert got["relation/201"][1]["type"] == "MultiPolygon"


def test_geometry_filter_keeps_required_coordinates(spark, edge_pbf):
    got = _features(spark, edge_pbf, geometry_filter=UNIT_SQUARE)
    # 10, 103 and 206 lie outside; 201 intersects through member way 106
    assert sorted(got) == ["node/9", "relation/201", "way/101", "way/102"]
    # a kept way's nodes outside the polygon keep their coordinates
    assert _rounded(got["way/102"][1]["coordinates"]) == [[0.2, 0.8], [2.0, 0.2]]
    # so do the nodes of a required member way that lies wholly outside
    polys = sorted(_rounded(got["relation/201"][1]["coordinates"]))
    assert polys == sorted([[INSIDE], [OUTSIDE]])


def test_tags_filter_builds_relations_from_unfiltered_members(spark, edge_pbf):
    kw = {"tags_filter": {"landuse": True, "amenity": True}}
    assert sorted(_features(spark, edge_pbf, **kw)) == [
        "node/10", "node/9", "relation/201"]
    assert sorted(_features(spark, edge_pbf, geometry_filter=UNIT_SQUARE, **kw)) == [
        "node/9", "relation/201"]


def test_custom_sql_reads_stripped_tags(spark, edge_pbf):
    # node 9 carries two raw keys, one of them metadata
    got = _features(spark, edge_pbf, custom_sql_filter="size(tags) = 1")
    assert sorted(got) == ["node/9", "way/101", "way/102", "way/103"]


def test_filter_osm_ids_without_ids_for_a_kind(spark, edge_pbf):
    got = _features(spark, edge_pbf, filter_osm_ids=["node/9", "way/101", "way/104"])
    assert sorted(got) == ["node/9", "way/101"]  # no relation ids: no relations
    got = _features(spark, edge_pbf, filter_osm_ids=["relation/201", "relation/202"])
    assert sorted(got) == ["relation/201"]  # members are assembled, not emitted


def test_overlapping_input_files(spark, edge_pbf, overlap_pbf):
    one = _features(spark, edge_pbf)
    both = _features(spark, [edge_pbf, overlap_pbf, edge_pbf])
    assert sorted(both) == sorted([*one, "node/12"])
    assert all(both[k] == v for k, v in one.items())


def _counts(df):
    rows = df.groupBy(
        F.split("feature_id", "/")[0].alias("kind"),
        F.conv(F.hex(F.substring("geometry", 2, 1)), 16, 10).alias("t"),
    ).count().collect()
    return dict(sorted((f"{r['kind']}/{_WKB_TYPES[int(r['t'])]}", r["count"])
                       for r in rows))


@pytest.fixture(scope="module")
def synth(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("synth") / "synth.osm.pbf")
    return path, make_pbf(path, seed=17, grid=40, elements_per_block=500)


@pytest.mark.parametrize("case", ["nofilter", "tags", "geometry"])
def test_synthetic_ground_truth(spark, synth, case):
    path, truth = synth
    kw = {"nofilter": {}, "tags": {"tags_filter": TAGS_FILTER},
          "geometry": {"geometry_filter": truth["geometry_filter"]}}[case]
    assert _counts(convert_pbf_to_dataframe(spark, path, **kw)) == truth[case]

