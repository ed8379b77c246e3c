"""Reading OpenStreetMap PBF files into Spark: ``read_osm_pbf`` and the
``osmpbf`` Python DataSource.

The Spark replacement for the reference's scan primitive (DuckDB-spatial
``ST_READOSM``, reference quackosm/pbf_file_reader.py:1199). One output row
per OSM element with the schema of SURVEY §1.1:

    kind STRING, id BIGINT, tags MAP<STRING,STRING>, refs ARRAY<BIGINT>,
    ref_types ARRAY<STRING>, ref_roles ARRAY<STRING>, lat DOUBLE, lon DOUBLE

Scale design: a PBF file is a sequence of independently decodable blobs, so
split planning is a driver-side header-only scan (`plan_splits`) that
groups consecutive OSMData blobs into ~`partition_bytes` (compressed) splits.
Decoding runs in executor tasks and emits Arrow RecordBatches, so rows never
pass through Python object conversion row-at-a-time. A 100 TB corpus of PBF
files parallelizes to one task per blob group per file.

``read_osm_pbf`` (what the conversion uses) plans the splits in the
driver's own Python and decodes them with ``mapInArrow``. The DataSource
decodes the same splits but plans them in Python planner processes, and
registering it scans the JVM's data source providers. In a fresh JVM,
reading and counting a 14k-element file takes 7.5–8.9 s through the
DataSource and 3.6–3.8 s through ``read_osm_pbf`` (4 cores); warm, both
take 0.4–0.5 s.

Usage::

    df = read_osm_pbf(spark, "/path/to/file.osm.pbf")
    # or through the DataSource:
    register_pbf_source(spark)
    df = spark.read.format("osmpbf").load("/path/to/file.osm.pbf")
    # or several files: .option("paths", "a.pbf,b.pbf")
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass
from typing import Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from quackosm_spark.sources import pbf_decode

ELEMENTS_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("id", LongType()),
        StructField("tags", MapType(StringType(), StringType())),
        StructField("refs", ArrayType(LongType())),
        StructField("ref_types", ArrayType(StringType())),
        StructField("ref_roles", ArrayType(StringType())),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("kind", pa.string()),
        pa.field("id", pa.int64()),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
        pa.field("refs", pa.list_(pa.int64())),
        pa.field("ref_types", pa.list_(pa.string())),
        pa.field("ref_roles", pa.list_(pa.string())),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
    ]
)

DEFAULT_PARTITION_BYTES = 32 * 1024 * 1024  # compressed bytes per task


@dataclass
class PbfBlobPartition(InputPartition):
    path: str
    # (offset, size) of each OSMData blob payload in this split
    blobs: tuple[tuple[int, int], ...]


class OsmPbfDataSource(DataSource):
    """Python DataSource V2: ``spark.read.format("osmpbf").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> StructType:
        return ELEMENTS_SCHEMA

    def reader(self, schema: StructType) -> "OsmPbfReader":
        return OsmPbfReader(self.options)


class OsmPbfReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path") or options.get("paths")
        if not path:
            raise ValueError("osmpbf source requires a path (load(path) or option('paths'))")
        self.paths = _expand_paths(p.strip() for p in str(path).split(","))
        self.partition_bytes = int(
            options.get("partitionbytes", options.get("partitionBytes", DEFAULT_PARTITION_BYTES))
        )

    def partitions(self) -> Sequence[PbfBlobPartition]:
        return plan_splits(self.paths, self.partition_bytes)

    def read(self, partition: PbfBlobPartition) -> Iterator[pa.RecordBatch]:
        return decode_split(partition)


def _expand_paths(paths: Iterable[str]) -> list[str]:
    """Paths with glob characters expand to their sorted matches."""
    out: list[str] = []
    for p in paths:
        out.extend(sorted(_glob.glob(p)) if any(ch in p for ch in "*?[") else [p])
    return out


def plan_splits(paths: Sequence[str], partition_bytes: int) -> list[PbfBlobPartition]:
    """Group each file's consecutive OSMData blobs into splits of about
    ``partition_bytes`` compressed bytes; one task decodes one split."""
    parts: list[PbfBlobPartition] = []
    for path in paths:
        if not os.path.exists(path):
            # decoding this split raises FileNotFoundError, so a read stays
            # lazy and fails at its first action
            parts.append(PbfBlobPartition(path, ()))
            continue
        pbf_decode.check_header_features(path)
        refs = [r for r in pbf_decode.index_blobs(path) if r.kind == "OSMData"]
        bucket: list[tuple[int, int]] = []
        bucket_bytes = 0
        for r in refs:
            bucket.append((r.offset, r.size))
            bucket_bytes += r.size
            if bucket_bytes >= partition_bytes:
                parts.append(PbfBlobPartition(path, tuple(bucket)))
                bucket, bucket_bytes = [], 0
        if bucket:
            parts.append(PbfBlobPartition(path, tuple(bucket)))
    if not parts:
        # header-only PBF (zero OSMData blobs): a read needs at least one
        # split, so emit one that decodes to nothing and the result is an
        # empty DataFrame with the right schema
        parts.append(PbfBlobPartition(paths[0], ()))
    return parts


def decode_split(split: PbfBlobPartition) -> Iterator[pa.RecordBatch]:
    """The Arrow batches of one split's blobs, in file order (the file is
    opened even for a split without blobs)."""
    with open(split.path, "rb") as f:
        for offset, size in split.blobs:
            payload = pbf_decode.read_blob_payload(
                f, pbf_decode.BlobRef(offset=offset, size=size, kind="OSMData")
            )
            for chunk in pbf_decode.decode_primitive_block(payload):
                yield _chunk_to_record_batch(chunk)


def _chunk_to_record_batch(chunk: dict) -> pa.RecordBatch:
    n = len(chunk["ids"])
    kind = chunk["kind"]
    ids = pa.array(chunk["ids"], type=pa.int64())
    tags = pa.array(chunk["tags"], type=pa.map_(pa.string(), pa.string()))
    nulls_i64 = pa.nulls(n, pa.list_(pa.int64()))
    nulls_str = pa.nulls(n, pa.list_(pa.string()))
    nulls_f64 = pa.nulls(n, pa.float64())
    if kind == "node":
        refs, ref_types, ref_roles = nulls_i64, nulls_str, nulls_str
        lat = pa.array(chunk["lats"], type=pa.float64())
        lon = pa.array(chunk["lons"], type=pa.float64())
    else:
        refs = pa.array(chunk["refs"], type=pa.list_(pa.int64()))
        ref_types = pa.array(chunk["ref_types"], type=pa.list_(pa.string()))
        ref_roles = pa.array(chunk["ref_roles"], type=pa.list_(pa.string()))
        lat, lon = nulls_f64, nulls_f64
    return pa.RecordBatch.from_arrays(
        [
            pa.array([kind] * n, type=pa.string()),
            ids,
            tags,
            refs,
            ref_types,
            ref_roles,
            lat,
            lon,
        ],
        schema=_ARROW_SCHEMA,
    )


def register_pbf_source(spark: SparkSession) -> None:
    spark.dataSource.register(OsmPbfDataSource)


#: one row per split: the file and its (offset, size) blob payloads
_SPLIT_SCHEMA = "path STRING, blobs ARRAY<ARRAY<BIGINT>>"


def _decode_split_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: decode every split row of the task's batches."""
    for batch in batches:
        for path, blobs in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            yield from decode_split(PbfBlobPartition(path, tuple(map(tuple, blobs))))


def read_osm_pbf(spark: SparkSession, *paths: str, partition_bytes: int | None = None) -> DataFrame:
    """Read one or more ``.osm.pbf`` files as the raw elements DataFrame.

    The splits are planned here, on the driver, and decoded one per task by
    ``mapInArrow``. They travel as the rows of an RDD, not of a
    ``spark.range``, so the optimizer sees the decoded size as unknown, as
    it does for the DataSource, and never plans a broadcast of the elements
    (a range's estimate is a few bytes per split)."""
    splits = plan_splits(_expand_paths(paths), partition_bytes or DEFAULT_PARTITION_BYTES)
    rows = spark.sparkContext.parallelize(
        [(s.path, [list(b) for b in s.blobs]) for s in splits], len(splits)
    )
    return spark.createDataFrame(rows, _SPLIT_SCHEMA).mapInArrow(
        _decode_split_rows, ELEMENTS_SCHEMA
    )
