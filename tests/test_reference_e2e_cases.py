"""End-to-end cases ported from the reference's main conversion suite
(tests/base/test_pbf_file_reader.py) — every case that runs offline against
the reference's fixture PBFs, with the reference's own expected values. The
fixtures live in the reference checkout, not in this repository; each test
skips where the file it reads is absent.

Covered here: explicit-ID filtering (388-406), geometry filtering to an
empty result (166-177), custom SQL filtering (408-426), grouped-filter
empty-column dropping (497-505), duplicated-input dedup (242-255),
spatial-sort size reduction (550-572), and metadata-tag ignoring (651-666).
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from conftest import MONACO, needs_reference
from quackosm_spark.constants import METADATA_TAGS_TO_IGNORE
from quackosm_spark.functions import (
    convert_pbf_to_geodataframe,
    convert_pbf_to_parquet,
)

REF_FILES = Path(MONACO).parent
D17F = (
    REF_FILES / "d17f922ed15e9609013a6b895e1e7af2d49158f03586f2c675d17b760af3452e.osm.pbf"
)

# tests/base/conftest.py:20-27 — the monaco test bbox
MONACO_BOX = {
    "type": "Polygon",
    "coordinates": [[
        [7.416486207767861, 43.7310867041912],
        [7.421931388477276, 43.7310867041912],
        [7.421931388477276, 43.73370705597216],
        [7.416486207767861, 43.73370705597216],
        [7.416486207767861, 43.7310867041912],
    ]],
}

FAR_UNIT_BOX = {
    "type": "Polygon",
    "coordinates": [[[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0], [0.0, 0.0]]],
}


@needs_reference(D17F)
@pytest.mark.parametrize(
    "filter_osm_ids,expected",
    [
        (
            [
                "way/1101364465",
                "way/1031859267",
                "node/10187594406",
                "way/248632173",
                "node/7573557755",
                "way/183199499",
                "way/171570637",
                "way/1113528087",
                "way/1113528092",
                "way/259888097",
            ],
            10,
        ),
        (["way/0", "node/0", "relation/0"], 0),
    ],
)
def test_features_ids_filtering(spark, filter_osm_ids, expected):
    gdf = convert_pbf_to_geodataframe(spark, D17F, filter_osm_ids=filter_osm_ids)
    assert len(gdf) == expected


@needs_reference(D17F)
def test_geometry_filtering_to_empty(spark):
    import json

    from quackosm_spark.filters.tags import OsmTagsFilter  # noqa: F401

    hex2vec = json.loads(
        (Path(__file__).parent / "data" / "reference_filter_cases.json").read_text()
    )["pbf_reader"][3][1]
    gdf = convert_pbf_to_geodataframe(
        spark,
        D17F,
        tags_filter=hex2vec,
        geometry_filter=FAR_UNIT_BOX,
        explode_tags=True,
    )
    assert len(gdf) == 0


@needs_reference(MONACO)
@pytest.mark.parametrize("geometry_filter", [None, MONACO_BOX])
def test_custom_sql_filtering(spark, geometry_filter):
    gdf = convert_pbf_to_geodataframe(
        spark,
        MONACO,
        custom_sql_filter="cardinality(tags) = 5",
        geometry_filter=geometry_filter,
    )
    assert len(gdf) > 0
    assert all(len(t) == 5 for t in gdf["tags"])


@needs_reference(MONACO)
def test_grouped_filter_empty_columns_dropped(spark):
    import json

    geofabrik = json.loads(
        (Path(__file__).parent / "data" / "reference_filter_cases.json").read_text()
    )["pbf_reader"][5][1]
    gdf = convert_pbf_to_geodataframe(
        spark, MONACO, tags_filter=geofabrik, explode_tags=True
    )
    # reference expects exactly 28 columns on monaco and the all-empty
    # 'unkown_roads' layer dropped (test_pbf_file_reader.py:497-505)
    assert len(gdf.columns) == 28, sorted(gdf.columns)
    assert "unkown_roads" not in gdf.columns


@needs_reference(MONACO)
def test_duplicated_input_file_dedup(spark):
    twice = convert_pbf_to_geodataframe(spark, [MONACO, MONACO])
    once = convert_pbf_to_geodataframe(spark, MONACO)
    assert twice.index.is_unique
    assert len(twice) == len(once)


@needs_reference(MONACO)
def test_spatial_sort_shrinks_output(spark, tmp_path):
    import pyarrow.parquet as pq

    def _convert(sort_result: bool) -> Path:
        out = convert_pbf_to_parquet(
            spark,
            MONACO,
            working_directory=tmp_path / ("sorted" if sort_result else "unsorted"),
            tags_filter={"building": True},
            explode_tags=False,
            sort_result=sort_result,
        )
        return Path(out)

    unsorted_dir, sorted_dir = _convert(False), _convert(True)

    def _size(d: Path) -> int:
        return sum(p.stat().st_size for p in d.glob("*.parquet"))

    def _schema(d: Path):
        return pq.read_schema(sorted(d.glob("*.parquet"))[0])

    assert _schema(unsorted_dir).names == _schema(sorted_dir).names
    # Hilbert locality compresses better (reference test_pbf_file_reader.py:
    # 550-572 asserts the same strict inequality)
    assert _size(unsorted_dir) > _size(sorted_dir)
    shutil.rmtree(unsorted_dir, ignore_errors=True)
    shutil.rmtree(sorted_dir, ignore_errors=True)


@needs_reference(MONACO)
@pytest.mark.parametrize("ignore_metadata_tags", [True, False])
def test_metadata_tags_ignoring(spark, ignore_metadata_tags):
    gdf = convert_pbf_to_geodataframe(
        spark,
        MONACO,
        keep_all_tags=True,
        ignore_metadata_tags=ignore_metadata_tags,
    )
    all_tags = {k for tags in gdf["tags"] for k in tags}
    if ignore_metadata_tags:
        assert all(tag not in all_tags for tag in METADATA_TAGS_TO_IGNORE)
    else:
        assert any(tag in all_tags for tag in METADATA_TAGS_TO_IGNORE)


@needs_reference(MONACO)
@pytest.mark.parametrize("save_as_wkt", [True, False])
@pytest.mark.parametrize("filter_kind", ["none", "hex2vec", "geofabrik"])
def test_geoparquet_metadata_matrix(spark, tmp_path, filter_kind, save_as_wkt):
    # reduced port of the reference's 36-combo parsing matrix
    # (test_pbf_file_reader.py:65-98): every output — including WKT mode —
    # carries geo metadata naming the primary column and its encoding
    import json as _json

    import pyarrow.parquet as pq

    filters = {"none": None}
    data = _json.loads(
        (Path(__file__).parent / "data" / "reference_filter_cases.json").read_text()
    )
    filters["hex2vec"] = data["pbf_reader"][3][1]
    filters["geofabrik"] = data["pbf_reader"][5][1]

    out = convert_pbf_to_parquet(
        spark,
        MONACO,
        working_directory=tmp_path,
        tags_filter=filters[filter_kind],
        save_as_wkt=save_as_wkt,
        sort_result=False,
    )
    part = sorted(Path(out).glob("*.parquet"))[0]
    meta = pq.read_schema(part).metadata
    assert b"geo" in meta
    geo = _json.loads(meta[b"geo"].decode())
    assert geo["primary_column"] == "geometry"
    assert "geometry" in geo["columns"]
    expected_encoding = "WKT" if save_as_wkt else "WKB"
    assert geo["columns"]["geometry"]["encoding"] == expected_encoding
    if save_as_wkt:
        row = spark.read.parquet(str(out)).select("geometry").first()
        assert row["geometry"].startswith(("POINT", "LINESTRING", "POLYGON", "MULTI"))
