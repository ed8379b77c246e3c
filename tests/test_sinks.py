"""Sink variants S7/S8/S9 + the geometry-driven entry point (§3.2)."""

from __future__ import annotations

import warnings

import duckdb
import pytest

from quackosm_spark.extracts import build_index
from quackosm_spark.functions import (
    convert_geometry_to_parquet,
    convert_pbf_to_duckdb,
    convert_pbf_to_geodataframe,
)
from tests.conftest import MONACO, needs_reference

MONACO_BBOX = {
    "type": "Polygon",
    "coordinates": [[[7.40, 43.72], [7.44, 43.72], [7.44, 43.76], [7.40, 43.76], [7.40, 43.72]]],
}


@needs_reference(MONACO)
def test_duckdb_sink(spark, tmp_path):
    db = convert_pbf_to_duckdb(
        spark,
        MONACO,
        working_directory=tmp_path,
        tags_filter={"amenity": "cafe"},
        sort_result=False,
    )
    assert db.suffix == ".duckdb"
    with duckdb.connect(str(db)) as con:
        n = con.sql("SELECT count(*) FROM quackosm").fetchone()[0]
        cols = [d[0] for d in con.sql("DESCRIBE quackosm").fetchall()]
    assert n > 0
    assert "feature_id" in cols and "geometry" in cols


@needs_reference(MONACO)
def test_geodataframe_sink(spark):
    pdf = convert_pbf_to_geodataframe(spark, MONACO, tags_filter={"amenity": "cafe"})
    assert pdf.index.name == "feature_id"
    assert len(pdf) > 0
    geom = pdf["geometry"].iloc[0]
    # offline build: GeoJSON-style dicts (shapely absent)
    assert isinstance(geom, dict) and geom["type"] == "Point"


@needs_reference(MONACO)
def test_geometry_driven_conversion(spark, tmp_path):
    """C13 extract selection feeding the conversion pipeline: a local index
    whose 'monaco' extract resolves to the fixture file."""
    import shutil

    (tmp_path / "monaco.osm.pbf").write_bytes(open(MONACO, "rb").read())
    index = build_index(
        [
            {
                "id": "mc", "name": "Monaco", "file_name": "monaco",
                "parent": "europe", "url": "local", "geometry": MONACO_BBOX,
            }
        ]
    )
    out = convert_geometry_to_parquet(
        spark,
        {
            "type": "Polygon",
            "coordinates": [[[7.41, 43.73], [7.43, 43.73], [7.43, 43.75], [7.41, 43.75], [7.41, 43.73]]],
        },
        index,
        download_directory=tmp_path,
        working_directory=tmp_path,
        tags_filter={"amenity": True},
        sort_result=False,
    )
    df = spark.read.parquet(str(out))
    assert 0 < df.count()


@needs_reference(MONACO)
def test_named_extract_conversion(spark, tmp_path):
    from quackosm_spark.functions import convert_osm_extract_to_parquet

    (tmp_path / "monaco.osm.pbf").write_bytes(open(MONACO, "rb").read())
    index = build_index(
        [
            {
                "id": "mc", "name": "Monaco", "file_name": "monaco",
                "parent": "europe", "url": "local", "geometry": MONACO_BBOX,
            }
        ]
    )
    out = convert_osm_extract_to_parquet(
        spark, "monaco", index,
        download_directory=tmp_path, working_directory=tmp_path,
        tags_filter={"amenity": "cafe"}, sort_result=False,
    )
    assert spark.read.parquet(str(out)).count() == 23


def test_geometry_driven_empty_result(spark, tmp_path):
    index = build_index(
        [
            {
                "id": "mc", "name": "Monaco", "file_name": "monaco",
                "parent": "europe", "url": "local", "geometry": MONACO_BBOX,
            }
        ]
    )
    far = {
        "type": "Polygon",
        "coordinates": [[[50.0, 50.0], [51.0, 50.0], [51.0, 51.0], [50.0, 51.0], [50.0, 50.0]]],
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = convert_geometry_to_parquet(
            spark, far, index,
            download_directory=tmp_path, working_directory=tmp_path,
            allow_uncovered_geometry=True,
        )
    assert any("0 extracts" in str(x.message) for x in w)
    df = spark.read.parquet(str(out))
    assert df.count() == 0
    assert df.columns == ["feature_id", "tags", "geometry"]


def _monaco_index(tmp_path):
    import shutil

    shutil.copyfile(MONACO, tmp_path / "monaco.osm.pbf")
    return build_index(
        [
            {
                "id": "mc", "name": "Monaco", "file_name": "monaco",
                "parent": "europe", "url": "local", "geometry": MONACO_BBOX,
            }
        ]
    )


@needs_reference(MONACO)
def test_geometry_to_geodataframe_and_duckdb(spark, tmp_path):
    from quackosm_spark.functions import (
        convert_geometry_to_duckdb,
        convert_geometry_to_geodataframe,
    )

    index = _monaco_index(tmp_path)
    clip = {
        "type": "Polygon",
        "coordinates": [[[7.41, 43.73], [7.43, 43.73], [7.43, 43.75], [7.41, 43.75], [7.41, 43.73]]],
    }
    gdf = convert_geometry_to_geodataframe(
        spark, clip, index,
        download_directory=tmp_path, working_directory=tmp_path,
        tags_filter={"amenity": True}, sort_result=False,
    )
    assert gdf.index.name == "feature_id" and len(gdf) > 0

    db = convert_geometry_to_duckdb(
        spark, clip, index,
        download_directory=tmp_path, working_directory=tmp_path,
        tags_filter={"amenity": True}, sort_result=False,
    )
    with duckdb.connect(str(db)) as con:
        assert con.sql("SELECT count(*) FROM quackosm").fetchone()[0] == len(gdf)


@needs_reference(MONACO)
def test_osm_extract_to_geodataframe_and_duckdb(spark, tmp_path):
    from quackosm_spark.functions import (
        convert_osm_extract_to_duckdb,
        convert_osm_extract_to_geodataframe,
    )

    index = _monaco_index(tmp_path)
    gdf = convert_osm_extract_to_geodataframe(
        spark, "monaco", index,
        download_directory=tmp_path, working_directory=tmp_path,
        tags_filter={"amenity": "cafe"}, sort_result=False,
    )
    assert len(gdf) == 23

    db = convert_osm_extract_to_duckdb(
        spark, "monaco", index,
        download_directory=tmp_path, working_directory=tmp_path,
        tags_filter={"amenity": "cafe"}, sort_result=False,
    )
    with duckdb.connect(str(db)) as con:
        assert con.sql("SELECT count(*) FROM quackosm").fetchone()[0] == 23


@needs_reference(MONACO)
def test_reader_facade_geometry_methods(spark, tmp_path):
    from quackosm_spark.pbf_file_reader import PbfFileReader

    index = _monaco_index(tmp_path)
    clip = {
        "type": "Polygon",
        "coordinates": [[[7.41, 43.73], [7.43, 43.73], [7.43, 43.75], [7.41, 43.75], [7.41, 43.73]]],
    }
    reader = PbfFileReader(
        spark, geometry_filter=clip, tags_filter={"amenity": True},
        working_directory=tmp_path,
    )
    gdf = reader.convert_geometry_to_geodataframe(
        index, download_directory=tmp_path, sort_result=False
    )
    assert len(gdf) > 0
    db = reader.convert_geometry_to_duckdb(
        index, download_directory=tmp_path, sort_result=False
    )
    with duckdb.connect(str(db)) as con:
        assert con.sql("SELECT count(*) FROM quackosm").fetchone()[0] == len(gdf)
