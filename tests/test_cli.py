"""CLI surface: argument parsing + end-to-end conversion via main()
(mirrors the reference's tests/base/test_cli.py through the typer runner)."""

from __future__ import annotations

import json

import pytest

from quackosm_spark import cli
from tests.conftest import MONACO, needs_reference


def test_geohash_decode_known_cells():
    # canonical vectors: 'ezs42' ≈ (-5.6, 42.6); 'u4pruyd' ≈ (10.4074, 57.6491)
    minx, miny, maxx, maxy = cli.decode_geohash_bbox("ezs42")
    assert minx <= -5.603 <= maxx and miny <= 42.605 <= maxy
    minx, miny, maxx, maxy = cli.decode_geohash_bbox("u4pruyd")
    assert minx < 10.4074 < maxx
    assert miny < 57.6491 < maxy
    assert (maxx - minx) < 0.01 and (maxy - miny) < 0.01


def test_bbox_parsing_errors():
    parser = cli.build_parser()
    args = parser.parse_args(["x.pbf", "--geom-filter-bbox", "1,2,3"])
    with pytest.raises(SystemExit, match="bounding box"):
        cli.parse_geometry_args(args)


def test_multiple_geometry_args_rejected():
    parser = cli.build_parser()
    args = parser.parse_args(
        ["x.pbf", "--geom-filter-bbox", "1,2,3,4", "--geom-filter-geohash", "u4pr"]
    )
    with pytest.raises(SystemExit, match="more than one"):
        cli.parse_geometry_args(args)


def test_geojson_feature_unwrap():
    doc = {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}
    assert cli._geometry_from_geojson(doc) == doc["geometry"]


def test_tags_filter_file(tmp_path):
    f = tmp_path / "filter.json"
    f.write_text(json.dumps({"building": True}))
    parser = cli.build_parser()
    args = parser.parse_args(["x.pbf", "--osm-tags-filter-file", str(f)])
    assert cli.parse_tags_filter(args) == {"building": True}


def test_conflicting_tags_filter_args(tmp_path):
    f = tmp_path / "filter.json"
    f.write_text("{}")
    parser = cli.build_parser()
    args = parser.parse_args(
        ["x.pbf", "--osm-tags-filter", "{}", "--osm-tags-filter-file", str(f)]
    )
    with pytest.raises(SystemExit, match="both"):
        cli.parse_tags_filter(args)


@needs_reference(MONACO)
def test_cli_end_to_end(spark, tmp_path, capsys):
    out = cli.main(
        [
            MONACO,
            "--working-directory", str(tmp_path),
            "--osm-tags-filter", '{"amenity": "cafe"}',
            "--no-sort-result",
        ]
    )
    assert out.exists()
    printed = capsys.readouterr().out.strip()
    assert printed.endswith(".parquet")
    df = spark.read.parquet(str(out))
    assert df.count() > 0
    assert "amenity" in df.columns  # positive filter → exploded by default


@needs_reference(MONACO)
def test_cli_bbox_filter_end_to_end(spark, tmp_path):
    out = cli.main(
        [
            MONACO,
            "--working-directory", str(tmp_path),
            "--osm-tags-filter", '{"amenity": true}',
            "--geom-filter-bbox", "7.420,43.730,7.425,43.735",
            "--no-sort-result",
        ]
    )
    full = cli.main(
        [
            MONACO,
            "--working-directory", str(tmp_path),
            "--osm-tags-filter", '{"amenity": true}',
            "--no-sort-result",
        ]
    )
    n_clipped = spark.read.parquet(str(out)).count()
    n_full = spark.read.parquet(str(full)).count()
    assert 0 < n_clipped < n_full


def _write_index_parquet(tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copyfile(MONACO, tmp_path / "monaco.osm.pbf")
    bbox_wkt = (
        "POLYGON ((7.40 43.72, 7.44 43.72, 7.44 43.76, 7.40 43.76, 7.40 43.72))"
    )
    table = pa.table(
        {
            "id": ["mc"], "name": ["Monaco"], "file_name": ["monaco"],
            "parent": ["europe"], "url": ["local"], "geometry": [bbox_wkt],
        }
    )
    idx = tmp_path / "index.parquet"
    pq.write_table(table, idx)
    return idx


@needs_reference(MONACO)
def test_cli_duckdb_export(tmp_path):
    import duckdb

    out = cli.main(
        [
            MONACO,
            "--duckdb",
            "--working-directory", str(tmp_path),
            "--osm-tags-filter", json.dumps({"amenity": "cafe"}),
            "--no-sort-result",
        ]
    )
    assert str(out).endswith(".duckdb")
    with duckdb.connect(str(out)) as con:
        assert con.sql("SELECT count(*) FROM quackosm").fetchone()[0] == 23


@needs_reference(MONACO)
def test_cli_osm_extract_query(tmp_path):
    idx = _write_index_parquet(tmp_path)
    out = cli.main(
        [
            "--osm-extract-query", "monaco",
            "--extracts-index", str(idx),
            "--download-directory", str(tmp_path),
            "--working-directory", str(tmp_path),
            "--osm-tags-filter", json.dumps({"amenity": "cafe"}),
            "--no-sort-result",
        ]
    )
    from quackosm_spark.session import get_spark

    assert get_spark().read.parquet(str(out)).count() == 23


@needs_reference(MONACO)
def test_cli_geometry_driven(tmp_path):
    idx = _write_index_parquet(tmp_path)
    out = cli.main(
        [
            "--geom-filter-bbox", "7.41,43.73,7.43,43.75",
            "--extracts-index", str(idx),
            "--download-directory", str(tmp_path),
            "--working-directory", str(tmp_path),
            "--osm-tags-filter", json.dumps({"amenity": True}),
            "--no-sort-result",
        ]
    )
    from quackosm_spark.session import get_spark

    assert get_spark().read.parquet(str(out)).count() > 0


def test_cli_no_inputs_errors():
    with pytest.raises(SystemExit):
        cli.main(["--osm-tags-filter", "{}"])


def test_curate_cli_end_to_end(spark, tmp_path, capsys):
    from quackosm_spark.curate_cli import main as curate_main

    out = str(tmp_path / "curated")
    result = curate_main([
        "/root/testdata/sf0.001/documents.parquet",
        "-o", out,
        "--no-near-dup",
        "--min-tokens", "3",
    ])
    assert result == out
    printed = capsys.readouterr().out
    assert "input:" in printed and "quality:" in printed
    curated = spark.read.parquet(out)
    assert 0 < curated.count() <= 500
    assert "text" in curated.columns


def test_curate_cli_shard_manifest_with_bpe(spark, tmp_path, capsys):
    from quackosm_spark.curate_cli import main as curate_main

    out = str(tmp_path / "curated_sharded")
    result = curate_main([
        "/root/testdata/sf0.001/documents.parquet",
        "-o", out,
        "--no-near-dup",
        "--min-tokens", "3",
        "--shard-target-tokens", "5000",
        "--bpe-merges", "8",
    ])
    assert result == out
    assert "sharded:" in capsys.readouterr().out
    curated = spark.read.parquet(out)
    assert {"shard_id", "n_tokens"} <= set(curated.columns)
    shard_ids = sorted(
        r["shard_id"] for r in curated.select("shard_id").distinct().collect()
    )
    assert shard_ids == list(range(len(shard_ids)))


def test_curate_cli_round4_stages(spark, tmp_path, capsys):
    """--gopher (bare = defaults-on), --dsir-target-source and
    --keep-best-quality flow through to the recipe stages."""
    from quackosm_spark.curate_cli import main as curate_main

    out = str(tmp_path / "curated_r4")
    result = curate_main([
        "/root/testdata/sf0.001/documents.parquet",
        "-o", out,
        "--no-near-dup",
        "--min-tokens", "3",
        "--gopher", '{"min_words": 5, "min_stopword_hits": 0, "min_alpha_word_ratio": 0.5}',
        "--dsir-target-source", "src0",
        "--dsir-keep-fraction", "0.7",
    ])
    assert result == out
    printed = capsys.readouterr().out
    assert "gopher:" in printed and "dsir:" in printed
    assert 0 < spark.read.parquet(out).count() <= 500


def test_cli_extract_query_with_source_registry(tmp_path):
    """`--osm-extract-query monaco --osm-extract-source Geofabrik
    --extracts-index-dir <precalculated>` — the reference's everyday
    `quackosm <query>` usage, index resolved by source name, PBF
    pre-placed under its canonical file_name (as a completed download
    would leave it)."""
    import os
    import shutil

    idx_dir = "/root/reference/precalculated_indexes"
    monaco_src = "/root/reference/tests/test_files/monaco.osm.pbf"
    if not (os.path.isdir(idx_dir) and os.path.exists(monaco_src)):
        pytest.skip("reference fixtures absent")

    shutil.copy(monaco_src, tmp_path / "geofabrik_europe_monaco.osm.pbf")
    out = cli.main([
        "--osm-extract-query", "monaco",
        "--osm-extract-source", "Geofabrik",
        "--extracts-index-dir", idx_dir,
        "--download-directory", str(tmp_path),
        "--working-directory", str(tmp_path / "wd"),
        "--osm-tags-filter", '{"amenity": true}',
    ])
    import duckdb

    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n > 500  # all monaco amenities
