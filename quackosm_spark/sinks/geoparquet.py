"""GeoParquet 1.1.0 sink (S6): one distributed write of parts that carry
the 'geo' footer metadata.

Reference: quackosm/_geoparquet_metadata.py:7-30 (metadata construction),
pbf_file_reader.py:4124-4197 (bbox/geometry-type aggregation before write).

The geometry stats are known before the write starts, so the footer is too.
Each Spark task writes its own Arrow batches with pyarrow (``mapInArrow``):
the parts carry the ``geo`` entry from the first byte, and the task is the
one place that sets the physical layout (codec and level, rows per row
group and per file, parquet format version). Tasks write under a staging
directory next to the output, on a filesystem the driver also sees; the
driver publishes the parts successful tasks report only after the job
succeeds, so a failed write leaves the previous output untouched.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import uuid
from pathlib import Path
from typing import Literal

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType

from quackosm_spark.constants import GEOMETRY_COLUMN

# PROJJSON for OGC:CRS84 (lon/lat WGS84) — the fixed output CRS (§1.3).
CRS_LONLAT = {
    "$schema": "https://proj.org/schemas/v0.5/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84 longitude-latitude",
    "datum": {
        "type": "GeodeticReferenceFrame",
        "name": "World Geodetic System 1984",
        "ellipsoid": {
            "name": "WGS 84",
            "semi_major_axis": 6378137,
            "inverse_flattening": 298.257223563,
        },
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {
                "name": "Geodetic longitude",
                "abbreviation": "Lon",
                "direction": "east",
                "unit": "degree",
            },
            {
                "name": "Geodetic latitude",
                "abbreviation": "Lat",
                "direction": "north",
                "unit": "degree",
            },
        ],
    },
    "id": {"authority": "OGC", "code": "CRS84"},
}

def build_geo_metadata(
    geometry_types: list[str],
    bbox: tuple[float, float, float, float],
    encoding: Literal["WKB", "WKT"] = "WKB",
    bbox_covering_column: str | None = None,
) -> dict:
    column_meta: dict = {
        "encoding": encoding,
        "crs": CRS_LONLAT,
        "geometry_types": geometry_types,
        "bbox": list(bbox),
    }
    if bbox_covering_column:
        # GeoParquet 1.1 covering: names the per-row bounds struct readers
        # can use for row-group pruning
        column_meta["covering"] = {
            "bbox": {
                side: [bbox_covering_column, side]
                for side in ("xmin", "ymin", "xmax", "ymax")
            }
        }
    return {
        "version": "1.1.0",
        "primary_column": GEOMETRY_COLUMN,
        "columns": {GEOMETRY_COLUMN: column_meta},
        "creator": {"library": "quackosm_spark", "version": "0.1.0"},
    }


def collect_geo_stats(features: DataFrame) -> tuple[list[str], tuple[float, float, float, float]]:
    """A7 extent + A8 distinct geometry types in ONE aggregate job: one WKB
    decode per row feeds both the bounds struct and the type sniff. No rows
    give null bounds, which map to ``([], (0.0, 0.0, 0.0, 0.0))``."""
    from quackosm_spark.plans.output import geometry_bbox_udf

    stats = (
        features.select(
            _geometry_type_udf(GEOMETRY_COLUMN).alias("__t"),
            geometry_bbox_udf(GEOMETRY_COLUMN).alias("__bb"),
        )
        .agg(
            F.collect_set("__t").alias("types"),
            F.min("__bb.xmin").alias("minx"),
            F.min("__bb.ymin").alias("miny"),
            F.max("__bb.xmax").alias("maxx"),
            F.max("__bb.ymax").alias("maxy"),
        )
        .collect()[0]
    )
    if stats["minx"] is None:
        return [], (0.0, 0.0, 0.0, 0.0)
    return sorted(stats["types"]), (stats["minx"], stats["miny"], stats["maxx"], stats["maxy"])


@F.pandas_udf(StringType())
def _geometry_type_udf(geometry: pd.Series) -> pd.Series:
    from quackosm_spark.geometry.wkb import geometry_type

    return pd.Series(
        [geometry_type(bytes(b)) if b is not None else None for b in geometry]
    )


@F.pandas_udf(StringType())
def _wkb_to_wkt_udf(geometry: pd.Series) -> pd.Series:
    from quackosm_spark.geometry import model, wkb

    return pd.Series(
        [model.to_wkt(wkb.loads(bytes(b))) if b is not None else None for b in geometry]
    )


_PARQUET_VERSIONS = {
    None: {},
    "v1": {"version": "1.0"},
    "v2": {"version": "2.6", "data_page_version": "2.0"},
}


def _part_writer(attempts: Path, geo: bytes, layout: dict, rows_per_file: int,
                 rows_per_group: int):
    """The ``mapInArrow`` body: write one task's batches, in order, as parts
    of at most ``rows_per_file`` rows (0: no cap) in row groups of
    ``rows_per_group`` rows, under the task attempt's own directory in
    ``attempts``; yield the part paths. A task with no rows writes nothing."""

    def write(batches):
        first = next(batches, None)
        if first is None:
            return
        ctx = TaskContext.get()
        attempt = attempts / str(ctx.taskAttemptId())
        attempt.mkdir()
        prefix = f"part-{ctx.partitionId():05d}-c"
        ds.write_dataset(
            itertools.chain([first], batches),
            attempt,
            schema=first.schema.with_metadata({b"geo": geo}),
            format="parquet",
            file_options=ds.ParquetFileFormat().make_write_options(**layout),
            basename_template=prefix + "{i}.parquet",
            max_rows_per_file=rows_per_file,
            min_rows_per_group=rows_per_group,
            max_rows_per_group=rows_per_group,
            use_threads=False,
            create_dir=False,
        )
        # zero-pad the file counter so that the parts sort in row order
        parts = []
        for i in range(len(os.listdir(attempt))):
            part = attempt / f"{prefix}{i:03d}.parquet"
            (attempt / f"{prefix}{i}.parquet").rename(part)
            parts.append(str(part))
        yield pa.RecordBatch.from_pydict({"part": parts})

    return write


def write_geoparquet(
    features: DataFrame,
    path: str | Path,
    geometry_types: list[str] | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    compression: str = "zstd",
    compression_level: int | None = None,
    row_group_size: int | None = None,
    parquet_version: str | None = None,
    max_records_per_file: int | None = None,
    bbox_column: bool = False,
    encoding: str = "WKB",
) -> Path:
    """One distributed write of GeoParquet parts. Returns the directory.

    ``features`` carries WKB geometry. ``encoding="WKT"`` takes the footer
    stats and the ``bbox`` covering column from the WKB, then re-encodes
    the geometry column as WKT text.

    ``compression``/``max_records_per_file`` mirror the reference's writer
    tuning surface (COMPRESSION zstd, FILE_SIZE_BYTES/ROW_GROUP_SIZE_BYTES,
    pbf_file_reader.py:2686-2699). Each task writes its rows, in order,
    with the ``geo`` footer and this layout: ``compression`` at
    ``compression_level``, row groups of ``row_group_size`` ROWS (default
    100 000), parts of at most ``max_records_per_file`` rows (split like
    Spark's ``maxRecordsPerFile``), ``parquet_version`` "v1" as format 1.0
    and "v2" as format 2.6 with v2 data pages. A frame with no rows writes
    one empty part with its schema.

    Executors write under ``.<name>.<uuid>`` next to ``path``, so ``path``
    must be on a filesystem the driver and the executors share. Once the
    job succeeds, the driver moves the parts successful tasks reported
    into place and replaces ``path`` with them; on any failure it removes
    the staging directory and re-raises, leaving ``path`` as it was.

    ``bbox_column=True`` writes the GeoParquet 1.1 ``bbox`` covering column
    (per-row bounds struct + ``covering`` metadata). Combined with the
    Hilbert spatial sort, parquet min/max row-group stats on the struct
    fields let any reader — Spark included, see ``read_geoparquet`` — skip
    row groups that can't intersect a query window; that's the scan-prune
    story for spatial queries over 100 TB of output."""
    path = Path(path)
    layout = dict(
        compression=compression,
        compression_level=compression_level,
        **_PARQUET_VERSIONS[parquet_version],
    )
    rows_per_group = row_group_size or 100_000
    if max_records_per_file:
        # pyarrow rejects row groups larger than the file cap
        rows_per_group = min(rows_per_group, max_records_per_file)
    if bbox_column and "bbox" not in features.columns:
        from quackosm_spark.plans.output import geometry_bbox_udf

        features = features.withColumn("bbox", geometry_bbox_udf(GEOMETRY_COLUMN))
    if geometry_types is None or bbox is None:
        computed_types, computed_bbox = collect_geo_stats(features)
        geometry_types = geometry_types or computed_types
        bbox = bbox or computed_bbox
    if encoding == "WKT":
        features = features.withColumn(GEOMETRY_COLUMN, _wkb_to_wkt_udf(GEOMETRY_COLUMN))
    geo = json.dumps(
        build_geo_metadata(
            geometry_types, bbox,
            encoding=encoding,
            bbox_covering_column="bbox" if bbox_column else None,
        )
    ).encode()
    staging = path.absolute().with_name(f".{path.name}.{uuid.uuid4().hex}")
    attempts = staging / "attempts"
    attempts.mkdir(parents=True)
    try:
        writer = _part_writer(attempts, geo, layout, max_records_per_file or 0, rows_per_group)
        reported = features.mapInArrow(writer, "part string").collect()
        for row in reported:
            os.replace(row.part, staging / Path(row.part).name)
        shutil.rmtree(attempts)
        if not reported:
            empty = to_arrow_schema(features.schema).with_metadata({b"geo": geo})
            pq.write_table(empty.empty_table(), staging / "part-00000-c000.parquet", **layout)
        if path.is_dir():
            shutil.rmtree(path)
        os.replace(staging, path)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return path


def read_geoparquet(spark, path: str | Path, bbox: tuple[float, float, float, float] | None = None) -> DataFrame:
    """Read a GeoParquet directory, optionally windowed to a bbox.

    When the file carries the 1.1 covering column, the window becomes four
    comparisons on ``bbox.*`` struct fields — plain parquet predicates that
    push into the scan and prune whole row groups via min/max stats (the
    payoff of writing spatially sorted + covered files). Without the column,
    the filter falls back to decoding WKB bounds per row (correct, no
    pruning)."""
    df = spark.read.parquet(str(path))
    if bbox is None:
        return df
    xmin, ymin, xmax, ymax = bbox
    if "bbox" in df.columns:
        return df.where(
            (F.col("bbox.xmin") <= xmax)
            & (F.col("bbox.xmax") >= xmin)
            & (F.col("bbox.ymin") <= ymax)
            & (F.col("bbox.ymax") >= ymin)
        )
    from quackosm_spark.plans.output import geometry_bbox_udf

    b = geometry_bbox_udf(GEOMETRY_COLUMN)
    return (
        df.withColumn("__b", b)
        .where(
            (F.col("__b.xmin") <= xmax)
            & (F.col("__b.xmax") >= xmin)
            & (F.col("__b.ymin") <= ymax)
            & (F.col("__b.ymax") >= ymin)
        )
        .drop("__b")
    )
