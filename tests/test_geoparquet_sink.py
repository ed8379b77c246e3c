"""GeoParquet sink: writer options reach the files, WKT encoding happens in
the sink, a conversion computes its geometry stats once, an empty frame
writes one empty part, and a failed write publishes nothing."""

from __future__ import annotations

import itertools
import json
import random
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from quackosm_spark.geometry import model, wkb
from quackosm_spark.geometry.ops import hilbert_index
from quackosm_spark.sinks.geoparquet import collect_geo_stats, write_geoparquet

_groups = itertools.count()


def _jobs_during(spark, fn):
    """Run ``fn()`` in a fresh job group; return (result, job ids started)."""
    sc = spark.sparkContext
    group = f"geoparquet-sink-test-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def _wkb_frame(spark, n: int = 2000):
    """Points, lines and a polygon with seeded word-salad ``name`` tags:
    text that zstd's higher levels compress measurably better."""
    rng = random.Random(0)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = []
    for i in range(n):
        x, y = 7.0 + (i % 50) * 1e-3, 43.0 + (i // 50) * 1e-3
        if i % 10 == 0:
            geom = {"type": "LineString", "coordinates": [[x, y], [x + 1e-3, y + 2e-3]]}
        else:
            geom = {"type": "Point", "coordinates": [x, y]}
        name = " ".join(rng.choice(words) for _ in range(30))
        rows.append((f"node/{i}", {"name": name}, wkb.dumps(geom)))
    square = [[7.1, 43.1], [7.2, 43.1], [7.2, 43.2], [7.1, 43.2], [7.1, 43.1]]
    rows.append(("way/1", {"building": "yes"},
                 wkb.dumps({"type": "Polygon", "coordinates": [square]})))
    return spark.createDataFrame(
        rows, "feature_id: string, tags: map<string,string>, geometry: binary"
    ).coalesce(1)


def _parts(path) -> list[Path]:
    parts = sorted(Path(path).glob("*.parquet"))
    assert parts
    return parts


def _geo(part: Path) -> dict:
    return json.loads(pq.read_schema(part).metadata[b"geo"])


def test_writer_options_reach_the_files(spark, tmp_path):
    df = _wkb_frame(spark)

    out = write_geoparquet(df, tmp_path / "v1", parquet_version="v1", row_group_size=500)
    for part in _parts(out):
        meta = pq.ParquetFile(part).metadata
        assert meta.format_version == "1.0"
        assert meta.num_row_groups == -(-meta.num_rows // 500) > 1

    out = write_geoparquet(df, tmp_path / "v2", parquet_version="v2")
    for part in _parts(out):
        meta = pq.ParquetFile(part).metadata
        assert meta.format_version == "2.6"
        assert meta.num_row_groups == 1  # default: 100 000 rows per group

    ids = [r["feature_id"] for r in df.select("feature_id").collect()]
    for group in (120, None):
        out = write_geoparquet(
            df, tmp_path / f"cap{group}", max_records_per_file=300, row_group_size=group
        )
        parts = _parts(out)
        rows = [pq.ParquetFile(p).metadata.num_rows for p in parts]
        assert rows == [300] * 6 + [201]  # one task: files cut every 300 rows
        for part, n in zip(parts, rows):
            meta = pq.ParquetFile(part).metadata
            split = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
            step = min(group or 100_000, n)
            assert split == [step] * (n // step) + ([n % step] if n % step else [])
        # the parts, in name order, hold the frame's rows in order
        assert pq.read_table(out).column("feature_id").to_pylist() == ids

    sizes = {}
    for level in (1, 19):
        out = write_geoparquet(df, tmp_path / f"zstd{level}", compression_level=level)
        sizes[level] = sum(p.stat().st_size for p in _parts(out))
    assert sizes[19] < sizes[1]


def test_wkt_encoding_happens_in_the_sink(spark, tmp_path):
    df = _wkb_frame(spark, n=300)
    as_wkb = write_geoparquet(df, tmp_path / "wkb", bbox_column=True)
    as_wkt = write_geoparquet(df, tmp_path / "wkt", bbox_column=True, encoding="WKT")

    wkb_geo, wkt_geo = _geo(_parts(as_wkb)[0]), _geo(_parts(as_wkt)[0])
    wkb_col, wkt_col = wkb_geo["columns"]["geometry"], wkt_geo["columns"]["geometry"]
    assert (wkb_col["encoding"], wkt_col["encoding"]) == ("WKB", "WKT")
    assert wkt_col["geometry_types"] == wkb_col["geometry_types"] == [
        "LineString", "Point", "Polygon",
    ]
    assert wkt_col["bbox"] == wkb_col["bbox"]
    assert wkt_col["covering"] == wkb_col["covering"]

    wkb_rows = pq.read_table(as_wkb).to_pylist()
    wkt_rows = pq.read_table(as_wkt).to_pylist()
    assert len(wkt_rows) == len(wkb_rows) == 301
    by_id = {r["feature_id"]: r for r in wkb_rows}
    for r in wkt_rows:
        assert isinstance(r["geometry"], str)
        src = by_id[r["feature_id"]]
        assert r["geometry"] == model.to_wkt(wkb.loads(src["geometry"]))
        assert r["bbox"] == src["bbox"]


def test_collect_geo_stats_on_empty_frame(spark):
    empty = spark.createDataFrame([], "feature_id: string, geometry: binary")
    assert collect_geo_stats(empty) == ([], (0.0, 0.0, 0.0, 0.0))


def test_spatial_sort_with_extent_starts_no_job(spark):
    from quackosm_spark.plans.output import spatial_sort

    df = _wkb_frame(spark, n=100)
    for algorithm in ("hilbert", "str"):
        _, jobs = _jobs_during(
            spark,
            lambda: spatial_sort(df, extent=(7.0, 43.0, 7.2, 43.2), algorithm=algorithm),
        )
        assert jobs == [], algorithm


def _is_python(name: str) -> bool:
    return any(k in name for k in ("Python", "Arrow", "Pandas"))


def _inputs(node) -> list:
    """The child plans of a physical plan node, seen through the adaptive
    execution wrappers (adaptive plan, query stages, reused exchanges)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    children = node.children()
    return [children.apply(i) for i in range(children.size())]


def _is_bbox_udf(node) -> bool:
    return node.nodeName() == "ArrowEvalPython" and "geometry_bbox_udf" in node.simpleString(100)


def _split_at_caches(plan):
    """Walk a physical plan down to its cached relations: return the nodes
    above them and the physical plans of the cached relations."""
    above, cached, stack = [], [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "InMemoryTableScan":
            cached.append(node.relation().cachedPlan())
            continue
        above.append(node)
        stack.extend(_inputs(node))
    return above, cached


def _bbox_udf_evaluations(plan) -> int:
    """The most ``geometry_bbox_udf`` nodes on one path from ``plan`` down
    to its cached relations: how often one row's bounds are computed."""
    if plan.nodeName() == "InMemoryTableScan":
        return 0
    below = [_bbox_udf_evaluations(child) for child in _inputs(plan)]
    return _is_bbox_udf(plan) + max(below, default=0)


def _conversion_actions(spark, tmp_path, grid_pbf, monkeypatch):
    """Convert ``grid_pbf`` with the defaults (WKB, Hilbert sort); return
    the physical plans of the frames the conversion collects (the stats
    aggregate, then the write) and the number of ``collect_geo_stats``
    calls."""
    import quackosm_spark.functions as fn_mod
    import quackosm_spark.sinks.geoparquet as gp_mod

    calls, plans = [], []
    real_stats = gp_mod.collect_geo_stats
    monkeypatch.setattr(
        gp_mod, "collect_geo_stats", lambda df: calls.append(1) or real_stats(df)
    )
    frame_class = type(spark.range(1))
    real_collect = frame_class.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().sparkPlan())
        return real_collect(self)

    monkeypatch.setattr(frame_class, "collect", recording_collect)
    sort_jobs = []
    real_sort = fn_mod.spatial_sort

    def counting_sort(*args, **kwargs):
        result, jobs = _jobs_during(spark, lambda: real_sort(*args, **kwargs))
        sort_jobs.extend(jobs)
        return result

    monkeypatch.setattr(fn_mod, "spatial_sort", counting_sort)
    fn_mod.convert_pbf_to_parquet(
        spark, grid_pbf, result_file_path=tmp_path / "out.parquet"
    )
    assert sort_jobs == []
    return plans, len(calls)


def test_conversion_computes_stats_once(spark, tmp_path, grid_pbf, monkeypatch):
    """One ``collect_geo_stats`` call, and ``geometry_bbox_udf`` runs once:
    below the cache that both the stats and the write read."""
    (stats, write), calls = _conversion_actions(spark, tmp_path, grid_pbf, monkeypatch)
    assert calls == 1
    for plan in (stats, write):
        assert _bbox_udf_evaluations(plan) == 0
        [features] = _split_at_caches(plan)[1]
        assert _bbox_udf_evaluations(features) == 1
    assert _split_at_caches(stats)[1][0].sameResult(_split_at_caches(write)[1][0])


def test_write_plan_has_one_python_node_above_the_cache(spark, tmp_path, grid_pbf, monkeypatch):
    """The sorted frame the writer receives is JVM-only above the cached
    features: the Hilbert key and the type sniff run no Python, so the
    ``mapInArrow`` writer is the one Python node of the write."""
    (stats, write), _ = _conversion_actions(spark, tmp_path, grid_pbf, monkeypatch)
    above, cached = _split_at_caches(write)
    assert len(cached) == 1
    assert [n.nodeName() for n in above if _is_python(n.nodeName())] == ["MapInArrow"]
    assert above[0].nodeName() == "MapInArrow"
    above, _ = _split_at_caches(stats)
    assert [n.nodeName() for n in above if _is_python(n.nodeName())] == []


def test_hilbert_sorted_parts_have_non_decreasing_keys(spark, tmp_path, grid_pbf):
    from quackosm_spark.functions import convert_pbf_to_parquet

    out = convert_pbf_to_parquet(
        spark, grid_pbf, result_file_path=tmp_path / "out.parquet"
    )
    total = 0
    for part in _parts(out):
        extent = tuple(_geo(part)["columns"]["geometry"]["bbox"])
        bounds = np.array([
            model.bounds(wkb.loads(b))
            for b in pq.read_table(part, columns=["geometry"]).column("geometry").to_pylist()
        ])
        total += len(bounds)
        keys = hilbert_index(
            (bounds[:, 0] + bounds[:, 2]) / 2.0, (bounds[:, 1] + bounds[:, 3]) / 2.0, extent
        )
        assert (np.diff(keys) >= 0).all(), part.name
    assert total == 1600 // 7 + 1 + 60


def test_zero_row_frame_writes_one_empty_part(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "feature_id: string, tags: map<string,string>, geometry: binary"
    )
    out = write_geoparquet(empty, tmp_path / "empty.parquet")
    [part] = _parts(out)
    assert pq.read_schema(part).names == ["feature_id", "tags", "geometry"]
    geo = _geo(part)
    assert geo["columns"]["geometry"]["geometry_types"] == []
    assert pq.read_table(out).num_rows == 0
    assert duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0] == 0
    assert spark.read.parquet(str(out)).count() == 0


@F.pandas_udf(StringType())
def _failing_udf(values: pd.Series) -> pd.Series:
    raise ValueError("this write fails on purpose")


def test_failed_write_keeps_the_previous_output(spark, tmp_path):
    df = _wkb_frame(spark, n=300).repartition(4)
    out = write_geoparquet(df, tmp_path / "out.parquet")
    before = {p.name: p.read_bytes() for p in _parts(out)}
    assert len(before) > 1

    failing = df.withColumn("feature_id", _failing_udf("feature_id"))
    with pytest.raises(Exception, match="this write fails on purpose"):
        write_geoparquet(failing, out, geometry_types=["Point"], bbox=(0.0, 0.0, 1.0, 1.0))
    assert {p.name: p.read_bytes() for p in _parts(out)} == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["out.parquet"]


def test_failed_conversion_is_not_a_cache_hit(spark, tmp_path, grid_pbf, monkeypatch):
    import quackosm_spark.sinks.geoparquet as gp_mod
    from quackosm_spark.functions import convert_pbf_to_parquet

    out = tmp_path / "out.parquet"
    with monkeypatch.context() as patch:
        patch.setattr(gp_mod, "_wkb_to_wkt_udf", _failing_udf)
        with pytest.raises(Exception, match="this write fails on purpose"):
            convert_pbf_to_parquet(spark, grid_pbf, result_file_path=out, save_as_wkt=True)
    assert sorted(p.name for p in tmp_path.iterdir()) == []

    again = convert_pbf_to_parquet(spark, grid_pbf, result_file_path=out, save_as_wkt=True)
    assert sum(pq.ParquetFile(p).metadata.num_rows for p in _parts(again)) == 1600 // 7 + 1 + 60


def test_unsorted_conversions_write_a_part_layout_set_by_the_rows(spark, tmp_path, grid_pbf):
    """Unsorted output is rebalanced before the write, so its parts follow
    the row count, not the partitioning the feature plan left behind."""
    from quackosm_spark.functions import convert_pbf_to_parquet

    rows, k = 1600 // 7 + 1 + 60, 50
    for run in range(2):
        out = convert_pbf_to_parquet(
            spark, grid_pbf, result_file_path=tmp_path / f"out{run}.parquet",
            sort_result=False, max_records_per_file=k,
        )
        sizes = [pq.ParquetFile(p).metadata.num_rows for p in _parts(out)]
        assert sum(sizes) == rows
        assert len(sizes) == -(-rows // k), sizes
