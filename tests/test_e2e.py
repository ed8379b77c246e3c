"""End-to-end conversion on the monaco fixture + GeoParquet sink + caching.

The write-path tests (cache, footer, spatial clustering, WKT, covering
column) run on the generated ``grid_pbf`` fixture from conftest. Golden
counts are regression values for the monaco fixture
(/root/reference/tests/test_files/monaco.osm.pbf). Spot-checked features
match the reference docstring geometries (quackosm/functions.py:180-240)
coordinate-for-coordinate; the docstring *totals* (8154/5902) belong to a
different, newer monaco extract downloaded by the reference's doctest
conftest (quackosm/conftest.py:69-96), so they are not comparable. The
monaco tests skip where the reference checkout is absent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackosm_spark.functions import convert_pbf_to_dataframe, convert_pbf_to_parquet
from quackosm_spark.geometry import model, wkb
from tests.conftest import MONACO, needs_reference


@pytest.fixture(scope="module")
def monaco_features(spark):
    return convert_pbf_to_dataframe(spark, MONACO).cache()


@needs_reference(MONACO)
def test_nofilter_feature_counts(monaco_features):
    by_kind = {
        r["k"]: r["count"]
        for r in monaco_features.select(
            F.split("feature_id", "/")[0].alias("k")
        ).groupBy("k").count().collect()
    }
    assert by_kind == {"node": 3119, "way": 4774, "relation": 44}


@needs_reference(MONACO)
def test_docstring_parity_spot_checks(monaco_features):
    """Exact tag + geometry parity with reference docstring examples."""
    rows = {
        r["feature_id"]: r
        for r in monaco_features.where(
            F.col("feature_id").isin(
                "node/10068880335", "way/986864693", "way/986864694", "way/990848785"
            )
        ).collect()
    }
    wkt = lambda fid: model.to_wkt(wkb.loads(bytes(rows[fid]["geometry"])))
    assert wkt("node/10068880335") == "POINT (7.4186855 43.7321515)"
    assert dict(rows["node/10068880335"]["tags"])["amenity"] == "bench"
    assert wkt("way/986864693").startswith("POLYGON ((7.4340482 43.745598, 7.4340263 43.745571")
    assert wkt("way/986864694").startswith("LINESTRING (7.4327547 43.7445382, 7.432808 43.7445623")
    assert dict(rows["way/990848785"]["tags"])["building"] == "yes"
    assert wkt("way/990848785").startswith("POLYGON ((7.4142551 43.7339622, 7.4143113 43.7340201")


@needs_reference(MONACO)
def test_filtered_exploded(spark):
    df = convert_pbf_to_dataframe(
        spark, MONACO, tags_filter={"building": True, "amenity": True, "highway": True}
    )
    assert df.columns == ["feature_id", "amenity", "building", "highway", "geometry"]
    assert df.count() == 5750  # regression golden for the in-repo fixture
    one = df.where(F.col("feature_id") == "node/10068880335").collect()[0]
    assert one["amenity"] == "bench" and one["building"] is None


@needs_reference(MONACO)
def test_grouped_filter(spark):
    df = convert_pbf_to_dataframe(
        spark,
        MONACO,
        tags_filter={
            "buildings": {"building": True},
            "transport": {"highway": ["primary", "secondary"]},
        },
    )
    assert df.columns == ["feature_id", "buildings", "transport", "geometry"]
    vals = df.where(F.col("transport").isNotNull()).select("transport").distinct().collect()
    assert {r["transport"] for r in vals} <= {"highway=primary", "highway=secondary"}


def test_parquet_write_cache_and_geo_metadata(spark, tmp_path, grid_pbf):
    out = convert_pbf_to_parquet(
        spark,
        grid_pbf,
        working_directory=tmp_path,
        tags_filter={"amenity": "bench"},
        sort_result=True,
    )
    assert out.exists()
    # geo footer metadata present (GeoParquet 1.1.0)
    import json
    import pyarrow.parquet as pq

    part = sorted(out.glob("*.parquet"))[0]
    meta = pq.read_schema(part).metadata
    geo = json.loads(meta[b"geo"])
    assert geo["version"] == "1.1.0"
    assert geo["columns"]["geometry"]["crs"]["id"]["code"] == "CRS84"
    assert len(geo["columns"]["geometry"]["bbox"]) == 4

    # cache hit: second call returns same path without rewriting
    mtime = part.stat().st_mtime_ns
    again = convert_pbf_to_parquet(
        spark, grid_pbf, working_directory=tmp_path, tags_filter={"amenity": "bench"}
    )
    assert again == out
    assert part.stat().st_mtime_ns == mtime

    # readable back with valid WKB
    back = spark.read.parquet(str(out))
    assert back.count() > 0
    g = wkb.loads(bytes(back.limit(1).collect()[0]["geometry"]))
    assert g["type"] in {"Point", "LineString", "Polygon", "MultiPolygon"}


@needs_reference(MONACO)
def test_multifile_dedup(spark):
    single = convert_pbf_to_dataframe(spark, MONACO, tags_filter={"amenity": "cafe"})
    double = convert_pbf_to_dataframe(
        spark, [MONACO, MONACO], tags_filter={"amenity": "cafe"}
    )
    assert single.count() == double.count()


def test_spatial_sort_clusters_output(spark, grid_pbf, tmp_path):
    """O3 quality: after the Hilbert sort, each output file covers a small
    fraction of the dataset extent — the property readers prune on."""
    from quackosm_spark.plans.output import spatial_sort
    from quackosm_spark.sinks.geoparquet import write_geoparquet

    features = convert_pbf_to_dataframe(spark, grid_pbf)
    sorted_feats = spatial_sort(features, num_partitions=8)
    out = tmp_path / "sorted.parquet"
    write_geoparquet(sorted_feats, out)

    import pyarrow.parquet as pq

    def file_bbox(p):
        table = pq.read_table(p, columns=["geometry"])
        bs = [
            model.bounds(wkb.loads(b.as_py()))
            for b in table.column("geometry")
            if b.is_valid
        ]
        return (
            min(a[0] for a in bs), min(a[1] for a in bs),
            max(a[2] for a in bs), max(a[3] for a in bs),
        )

    parts = [p for p in sorted(out.glob("*.parquet"))
             if pq.ParquetFile(p).metadata.num_rows > 0]
    assert len(parts) >= 4
    boxes = [file_bbox(p) for p in parts]
    minx = min(b[0] for b in boxes); miny = min(b[1] for b in boxes)
    maxx = max(b[2] for b in boxes); maxy = max(b[3] for b in boxes)
    extent_area = (maxx - minx) * (maxy - miny)
    avg_area = sum((b[2] - b[0]) * (b[3] - b[1]) for b in boxes) / len(boxes)
    # Hilbert-clustered files each cover a small fraction of the extent
    assert avg_area < 0.5 * extent_area


def test_save_as_wkt(spark, tmp_path, grid_pbf):
    out = convert_pbf_to_parquet(
        spark,
        grid_pbf,
        working_directory=tmp_path,
        tags_filter={"amenity": "bench"},
        save_as_wkt=True,
        sort_result=False,
    )
    assert out.name.endswith("_wkt.parquet")
    df = spark.read.parquet(str(out))
    first = df.limit(1).collect()[0]
    assert isinstance(first["geometry"], str) and first["geometry"].startswith("POINT")


def test_bbox_covering_column_and_windowed_read(spark, tmp_path, grid_pbf):
    """GeoParquet 1.1 covering column: per-row bounds struct, covering
    metadata, and bbox-windowed read that prunes via parquet predicates."""
    import json
    import pyarrow.parquet as pq

    from quackosm_spark.sinks.geoparquet import read_geoparquet

    out = convert_pbf_to_parquet(
        spark,
        grid_pbf,
        working_directory=tmp_path,
        tags_filter={"amenity": "bench"},
        bbox_column=True,
    )
    # distinct cache name from the non-bbox variant of the same query
    assert "_bbox" in out.name

    part = sorted(out.glob("*.parquet"))[0]
    geo = json.loads(pq.read_schema(part).metadata[b"geo"])
    cov = geo["columns"]["geometry"]["covering"]["bbox"]
    assert cov["xmin"] == ["bbox", "xmin"] and cov["ymax"] == ["bbox", "ymax"]

    full = read_geoparquet(spark, out)
    assert "bbox" in full.columns
    n_total = full.count()
    # bounds struct agrees with the file-level extent
    ext = geo["columns"]["geometry"]["bbox"]
    row = full.select(
        F.min("bbox.xmin"), F.min("bbox.ymin"), F.max("bbox.xmax"), F.max("bbox.ymax")
    ).collect()[0]
    assert list(row) == pytest.approx(ext, abs=1e-9)

    # window to the west half of the extent: correct subset, non-trivial
    mid_x = (ext[0] + ext[2]) / 2
    window = (ext[0], ext[1], mid_x, ext[3])
    west = read_geoparquet(spark, out, bbox=window)
    n_west = west.count()
    assert 0 < n_west < n_total
    # every kept feature really intersects the window (bbox test)
    bad = west.where(~((F.col("bbox.xmin") <= mid_x))).count()
    assert bad == 0
    # the window became plain parquet predicates on the struct fields
    plan = west._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox.xmin" in plan

    # fallback path (no covering column) selects the same feature_ids
    out_plain = convert_pbf_to_parquet(
        spark,
        grid_pbf,
        working_directory=tmp_path,
        tags_filter={"amenity": "bench"},
    )
    plain_west = read_geoparquet(spark, out_plain, bbox=window)
    assert {r.feature_id for r in plain_west.select("feature_id").collect()} == {
        r.feature_id for r in west.select("feature_id").collect()
    }


@needs_reference(MONACO)
def test_str_sort_and_writer_knobs(spark, tmp_path):
    # sort_algorithm="str" + parquet writer tuning (reference signature:
    # compression_level / row_group_size / parquet_version v1|v2)
    from pathlib import Path

    from quackosm_spark.functions import convert_pbf_to_parquet

    out = convert_pbf_to_parquet(
        spark,
        MONACO,
        working_directory=tmp_path,
        tags_filter={"building": True},
        explode_tags=False,
        sort_result=True,
        sort_algorithm="str",
        compression="zstd",
        compression_level=9,
        row_group_size=2 * 1024 * 1024,
        parquet_version="v2",
    )
    import pyarrow.parquet as pq

    parts = sorted(Path(out).glob("*.parquet"))
    assert parts
    df = spark.read.parquet(str(out))
    assert df.count() == 1283  # reference building-count golden
    meta = pq.read_schema(parts[0]).metadata
    assert b"geo" in meta
    # STR ordering: within every output file, centroid y must be sorted
    import json as _json

    from quackosm_spark.geometry import model, wkb

    for p in parts:
        tbl = pq.read_table(p, columns=["geometry"])
        ys = []
        for blob in tbl.column("geometry").to_pylist():
            b = model.bounds(wkb.loads(bytes(blob)))
            ys.append((b[1] + b[3]) / 2.0)
        assert ys == sorted(ys), f"slab {p.name} not y-ordered"


def test_invalid_sort_algorithm_raises(spark):
    from quackosm_spark.plans.output import spatial_sort

    df = spark.createDataFrame(
        [("node/1", None)], "feature_id string, geometry binary"
    )
    with pytest.raises(ValueError, match="sort algorithm"):
        spatial_sort(df, algorithm="zorder")
