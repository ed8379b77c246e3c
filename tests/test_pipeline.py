"""End-to-end tests of the element→feature pipeline (C1..C11) on the F1
scenario fixture (tests/conftest.py), mirroring the reference's per-behavior
unit tests (tests/base/test_pbf_file_reader.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quackosm_spark.geometry import wkb
from quackosm_spark.plans.pipeline import PbfPipelineOptions, build_features
from quackosm_spark.sources.pbf import ELEMENTS_SCHEMA
from tests.conftest import REFERENCE_TEST_FILES, needs_reference

D17F = (
    f"{REFERENCE_TEST_FILES}/"
    "d17f922ed15e9609013a6b895e1e7af2d49158f03586f2c675d17b760af3452e.osm.pbf"
)


def _features(spark, elements, **kwargs):
    opts = PbfPipelineOptions(**kwargs)
    df = build_features(spark, elements, opts)
    rows = df.collect()
    return {r["feature_id"]: r for r in rows}


def _geom(row):
    return wkb.loads(bytes(row["geometry"]))


@pytest.fixture(scope="module")
def nofilter(spark, elements):
    return _features(spark, elements)


# ---------------------------------------------------------------- inventory

def test_feature_inventory_nofilter(nofilter):
    assert sorted(nofilter) == [
        "node/1",       # tagged node
        "node/5",
        "node/9",
        "relation/201",  # ring merged from two halves
        "relation/202",  # outer ring (inner not contained → no hole)
        "relation/203",  # NULL roles default to outer
        "relation/206",  # boundary type; node member ignored
        "way/101",       # closed + building → Polygon
        "way/102",       # closed + area=no → LineString
        "way/103",       # open → LineString
        "way/104",       # closed but <4 distinct points → LineString
    ]
    # dropped by design:
    # node/2,4,6,7,8 untagged; node/3 metadata-only tags
    # way/105 dangling ref (validity C4); way/106-108 untagged
    # relation/204 unclosed ring; relation/205 route type


def test_node_point_geometry(nofilter):
    g = _geom(nofilter["node/1"])
    assert g == {"type": "Point", "coordinates": [0.1, 0.1]}
    assert dict(nofilter["node/1"]["tags"]) == {"amenity": "cafe", "name": "N1"}


def test_metadata_only_node_dropped(nofilter):
    assert "node/3" not in nofilter


def test_way_polygonization_decision(nofilter):
    assert _geom(nofilter["way/101"])["type"] == "Polygon"      # building=yes
    assert _geom(nofilter["way/102"])["type"] == "LineString"   # area=no wins
    assert _geom(nofilter["way/103"])["type"] == "LineString"   # open
    assert _geom(nofilter["way/104"])["type"] == "LineString"   # 3 distinct pts


def test_way_linestring_order(nofilter):
    g = _geom(nofilter["way/103"])
    assert g["coordinates"] == [[0.1, 0.1], [0.1, 0.2], [0.2, 0.2]]  # (lon, lat)


def test_way_with_dangling_ref_dropped(nofilter):
    assert "way/105" not in nofilter


def test_relation_ring_merge(nofilter):
    g = _geom(nofilter["relation/201"])
    assert g["type"] == "Polygon"
    ring = g["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) == 5


def test_relation_null_roles_default_outer(nofilter):
    assert _geom(nofilter["relation/203"])["type"] == "Polygon"


def test_relation_unclosed_dropped(nofilter):
    assert "relation/204" not in nofilter


def test_route_relation_ignored(nofilter):
    assert "relation/205" not in nofilter


def test_boundary_relation_node_member_ignored(nofilter):
    g = _geom(nofilter["relation/206"])
    assert g["type"] == "Polygon"


def test_relation_hole_assignment(spark):
    """Purpose-built multipolygon whose inner ring IS inside the outer."""
    rows = [
        ("node", 1, None, None, None, None, 0.0, 0.0),
        ("node", 2, None, None, None, None, 0.0, 1.0),
        ("node", 3, None, None, None, None, 1.0, 1.0),
        ("node", 4, None, None, None, None, 1.0, 0.0),
        ("node", 5, None, None, None, None, 0.25, 0.25),
        ("node", 6, None, None, None, None, 0.25, 0.75),
        ("node", 7, None, None, None, None, 0.75, 0.75),
        ("node", 8, None, None, None, None, 0.75, 0.25),
        ("way", 11, None, [1, 2, 3, 4, 1], None, None, None, None),
        ("way", 12, None, [5, 6, 7, 8, 5], None, None, None, None),
        (
            "relation", 21, {"type": "multipolygon", "landuse": "forest"},
            [11, 12], ["way", "way"], ["outer", "inner"], None, None,
        ),
    ]
    elements = spark.createDataFrame(rows, ELEMENTS_SCHEMA)
    feats = _features(spark, elements)
    assert sorted(feats) == ["relation/21"]
    g = _geom(feats["relation/21"])
    assert g["type"] == "Polygon"
    assert len(g["coordinates"]) == 2  # outer + hole


# ---------------------------------------------------------------- filters

def test_tags_filter(spark, elements):
    feats = _features(spark, elements, tags_filter={"building": True})
    assert sorted(feats) == ["way/101", "way/104"]


def test_tags_filter_negative(spark, elements):
    feats = _features(spark, elements, tags_filter={"amenity": True, "area": False})
    # node/5 has area=yes → excluded by negative clause
    assert sorted(feats) == ["node/1"]


def test_geometry_filter_excludes_far_node(spark, elements):
    unit = {
        "type": "Polygon",
        "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]],
    }
    feats = _features(spark, elements, geometry_filter=unit)
    assert "node/9" not in feats
    assert "node/1" in feats and "way/101" in feats and "relation/201" in feats


def test_filter_osm_ids(spark, elements):
    feats = _features(
        spark, elements, filter_osm_ids=("node/1", "way/101", "relation/201")
    )
    assert sorted(feats) == ["node/1", "relation/201", "way/101"]


@needs_reference(D17F)
def test_ids_filter_reference_fixture(spark):
    """The reference's own ids-filter golden (tests/base/
    test_pbf_file_reader.py:368-398) on its hand-crafted fixture file."""
    from quackosm_spark.functions import convert_pbf_to_dataframe

    ids = [
        "way/1101364465", "way/1031859267", "node/10187594406", "way/248632173",
        "node/7573557755", "way/183199499", "way/171570637", "way/1113528087",
        "way/1113528092", "way/259888097",
    ]
    got = convert_pbf_to_dataframe(spark, D17F, filter_osm_ids=ids)
    assert got.count() == 10
    empty = convert_pbf_to_dataframe(
        spark, D17F, filter_osm_ids=["way/0", "node/0", "relation/0"]
    )
    assert empty.count() == 0


def test_empty_header_only_pbf(spark, tmp_path):
    """Header-only PBF (zero OSMData blobs) → empty elements, empty features.

    Reads the reference's header-only fixture where it exists; elsewhere the
    in-repo encoder writes the same shape, one OSMHeader blob and no OSMData
    blob."""
    from quackosm_spark.sources import pbf_encode
    from quackosm_spark.sources.pbf import read_osm_pbf

    fixture = (
        f"{REFERENCE_TEST_FILES}/"
        "7a0163cb721992d6219d486b3d29517d06aa0db19dd7be049f4f1fabf6146073.osm.pbf"
    )
    if not os.path.exists(fixture):
        fixture = pbf_encode.write_pbf(str(tmp_path / "header_only.osm.pbf"), [])
    el = read_osm_pbf(spark, fixture)
    assert el.count() == 0
    assert build_features(spark, el).count() == 0


def test_custom_sql_filter(spark, elements):
    feats = _features(
        spark, elements, custom_sql_filter="map_contains_key(tags, 'amenity')"
    )
    assert sorted(feats) == ["node/1", "node/5"]


def test_keep_metadata_tags(spark, elements):
    feats = _features(spark, elements, ignore_metadata_tags=False)
    assert "node/3" in feats
    assert dict(feats["node/3"]["tags"]) == {"created_by": "editor"}


# ---------------------------------------------------------------- defaults

def test_explode_tags_default_rule():
    assert PbfPipelineOptions(tags_filter={"building": True}).resolve_explode_tags()
    assert not PbfPipelineOptions().resolve_explode_tags()
    assert not PbfPipelineOptions(
        tags_filter={"building": True}, keep_all_tags=True
    ).resolve_explode_tags()
    assert not PbfPipelineOptions(tags_filter={"name:*": False}).resolve_explode_tags()
    assert PbfPipelineOptions(
        tags_filter={"building": True}, explode_tags=True, keep_all_tags=True
    ).resolve_explode_tags()


def test_relation_mixed_degenerate_geometrycollection(spark, tmp_path):
    """r03 (SURVEY §1.3): a multipolygon relation mixing a real polygon
    part with a collinear zero-area part emits GeometryCollection —
    end-to-end through build_features AND the GeoParquet sink footer."""
    import glob
    import json

    import pyarrow.parquet as pq

    from quackosm_spark.sinks.geoparquet import write_geoparquet

    def node(i, lat, lon):
        return ("node", i, None, None, None, None, lat, lon)

    def way(i, refs):
        return ("way", i, None, refs, ["node"] * len(refs), None, None, None)

    rows = [
        node(1, 0.0, 0.0), node(2, 0.0, 1.0), node(3, 1.0, 1.0),
        node(4, 1.0, 0.0),
        node(5, 5.0, 5.0), node(6, 5.0, 6.0), node(7, 5.0, 7.0),
        way(10, [1, 2, 3, 4, 1]),
        way(11, [5, 6, 7, 5]),  # closed, 4 distinct, zero area (collinear)
        ("relation", 100, {"type": "multipolygon", "landuse": "x"},
         [10, 11], ["way", "way"], ["outer", "outer"], None, None),
    ]
    elements = spark.createDataFrame(rows, ELEMENTS_SCHEMA)
    feats = _features(spark, elements, tags_filter={"landuse": True})
    geom = _geom(feats["relation/100"])
    assert geom["type"] == "GeometryCollection"
    assert [g["type"] for g in geom["geometries"]] == ["Polygon", "LineString"]
    # the polygonal member is the square, vertex order preserved
    assert geom["geometries"][0]["coordinates"][0][0] == [0.0, 0.0]

    out = tmp_path / "gc"
    write_geoparquet(
        build_features(
            spark, elements, PbfPipelineOptions(tags_filter={"landuse": True})
        ),
        out,
    )
    part = glob.glob(f"{out}/*.parquet")[0]
    meta = json.loads(pq.read_schema(part).metadata[b"geo"])
    assert meta["columns"]["geometry"]["geometry_types"] == [
        "GeometryCollection"
    ]
    assert spark.read.parquet(str(out)).count() == 1
