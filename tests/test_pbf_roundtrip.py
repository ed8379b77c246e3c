"""Encoder↔decoder roundtrip + genuine multi-partition decode tests.

The monaco fixture is a single 538 KB blob (one Spark split); these tests
synthesize multi-blob files so the source's partition planning and parallel
decode actually execute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quackosm_spark.sources import pbf_decode, pbf_encode
from quackosm_spark.sources.pbf import read_osm_pbf


def _synthetic_elements(n_nodes: int = 20000, n_ways: int = 2000, n_rels: int = 50):
    els = []
    for i in range(1, n_nodes + 1):
        tags = {"amenity": "cafe", "name": f"node {i}"} if i % 97 == 0 else None
        els.append(
            {"kind": "node", "id": i, "tags": tags,
             "lat": 40.0 + (i % 1000) * 1e-4, "lon": 7.0 + (i // 1000) * 1e-4}
        )
    for w in range(1, n_ways + 1):
        first = (w * 7) % (n_nodes - 6) + 1
        els.append(
            {"kind": "way", "id": 1_000_000 + w,
             "tags": {"highway": "residential"} if w % 3 == 0 else None,
             "refs": list(range(first, first + 5))}
        )
    for r in range(1, n_rels + 1):
        els.append(
            {"kind": "relation", "id": 2_000_000 + r,
             "tags": {"type": "multipolygon", "landuse": "forest"},
             "refs": [1_000_000 + r, 1_000_000 + r + 1],
             "ref_types": ["way", "way"], "ref_roles": ["outer", None]}
        )
    return els


@pytest.fixture(scope="module")
def synthetic_pbf(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pbf") / "synthetic.osm.pbf")
    pbf_encode.write_pbf(path, _synthetic_elements(), elements_per_block=3000)
    return path


def test_blob_structure(synthetic_pbf):
    refs = pbf_decode.index_blobs(synthetic_pbf)
    kinds = [r.kind for r in refs]
    assert kinds[0] == "OSMHeader"
    assert kinds.count("OSMData") >= 7  # 22050 elements / 3000 per block


def test_roundtrip_counts(spark, synthetic_pbf):
    df = read_osm_pbf(spark, synthetic_pbf).cache()
    counts = {r["kind"]: r["count"] for r in df.groupBy("kind").count().collect()}
    assert counts == {"node": 20000, "way": 2000, "relation": 50}


def test_roundtrip_values(spark, synthetic_pbf):
    df = read_osm_pbf(spark, synthetic_pbf)
    n = df.where(F.col("id") == 97).collect()[0]
    assert n["kind"] == "node"
    assert dict(n["tags"]) == {"amenity": "cafe", "name": "node 97"}
    assert round(n["lat"], 7) == round(40.0 + 97 * 1e-4, 7)
    w = df.where(F.col("id") == 1_000_003).collect()[0]
    assert w["refs"] == [22, 23, 24, 25, 26]  # first = (3*7) % 19994 + 1
    assert dict(w["tags"]) == {"highway": "residential"}
    r = df.where(F.col("id") == 2_000_001).collect()[0]
    assert r["ref_types"] == ["way", "way"]
    assert r["ref_roles"] == ["outer", None]  # empty role → NULL


def test_parallel_decode_partitions(spark, synthetic_pbf):
    # synthetic regular data compresses to ~400 B/blob — split per ~2 blobs
    df = read_osm_pbf(spark, synthetic_pbf, partition_bytes=1024)
    assert df.rdd.getNumPartitions() >= 4
    assert df.count() == 22050
    # identical totals regardless of split size
    df_one = read_osm_pbf(spark, synthetic_pbf, partition_bytes=1 << 30)
    assert df_one.rdd.getNumPartitions() == 1
    assert df_one.count() == 22050


def test_pipeline_on_synthetic(spark, synthetic_pbf):
    """Full conversion over a multi-blob file: tagged nodes + ways resolve."""
    from quackosm_spark.plans.pipeline import build_features

    feats = build_features(spark, read_osm_pbf(spark, synthetic_pbf))
    by_kind = {
        r[0]: r[1]
        for r in feats.select(F.split("feature_id", "/")[0].alias("k"))
        .groupBy("k").count().collect()
    }
    assert by_kind["node"] == 20000 // 97  # every 97th node tagged
    assert by_kind["way"] == 2000 // 3
    # relations: members are consecutive way pairs; relation 50 references
    # way 1_000_051 which exists, all refs resolve; rings are open 5-node
    # ways -> merged lines unclosed -> all relations dropped by closure rule
    assert "relation" not in by_kind


def test_negative_and_large_ids(spark, tmp_path):
    els = [
        {"kind": "node", "id": 2**53, "tags": {"name": "big"}, "lat": 1.0, "lon": 2.0},
        {"kind": "node", "id": 7, "tags": None, "lat": -89.9999999, "lon": 179.9999999},
    ]
    path = str(tmp_path / "ids.osm.pbf")
    pbf_encode.write_pbf(path, els)
    rows = {r["id"]: r for r in read_osm_pbf(spark, path).collect()}
    assert set(rows) == {2**53, 7}
    assert round(rows[7]["lat"], 7) == -89.9999999
    assert round(rows[7]["lon"], 7) == 179.9999999


@pytest.mark.parametrize("compression", ["zstd", "lz4", "lzma", "raw"])
def test_alternate_blob_compressions_roundtrip(spark, tmp_path, compression):
    """fileformat.proto allows zstd/lz4/lzma/raw blobs besides zlib; newer
    osmium builds emit zstd. Decode must be byte-identical to the zlib
    path."""
    els = _synthetic_elements(n_nodes=500, n_ways=50, n_rels=5)
    zl = str(tmp_path / "zl.osm.pbf")
    alt = str(tmp_path / f"{compression}.osm.pbf")
    pbf_encode.write_pbf(zl, els, elements_per_block=200)
    pbf_encode.write_pbf(alt, els, elements_per_block=200, compression=compression)

    base = sorted(map(tuple, read_osm_pbf(spark, zl).collect()))
    other = sorted(map(tuple, read_osm_pbf(spark, alt).collect()))
    assert other == base
    assert len(base) == 555


def test_read_matches_datasource(spark, synthetic_pbf):
    """``read_osm_pbf`` and ``spark.read.format("osmpbf")`` decode the same
    splits: the same partitions, rows and per-partition row order."""
    from quackosm_spark.sources.pbf import register_pbf_source

    register_pbf_source(spark)
    direct = read_osm_pbf(spark, synthetic_pbf, partition_bytes=1024)
    source = (
        spark.read.format("osmpbf").option("partitionBytes", "1024").load(synthetic_pbf)
    )
    assert direct.schema == source.schema
    assert direct.rdd.getNumPartitions() == source.rdd.getNumPartitions()
    assert direct.rdd.glom().collect() == source.rdd.glom().collect()


def test_read_size_estimate_is_unknown(spark, synthetic_pbf):
    """The optimizer sees the decoded size as unknown, as for a file of
    unknown size, so no join over the elements is broadcast at planning."""
    df = read_osm_pbf(spark, synthetic_pbf)
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert size > 2**60  # spark.sql.defaultSizeInBytes: Long.MaxValue


def test_read_of_missing_file_fails_at_first_action(spark, tmp_path):
    df = read_osm_pbf(spark, str(tmp_path / "missing.osm.pbf"))
    assert df.columns == ["kind", "id", "tags", "refs", "ref_types", "ref_roles", "lat", "lon"]
    with pytest.raises(Exception, match="FileNotFoundError"):
        df.count()


def test_read_of_header_only_file_is_empty(spark, tmp_path):
    path = str(tmp_path / "empty.osm.pbf")
    pbf_encode.write_pbf(path, [])
    df = read_osm_pbf(spark, path)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 0
