"""quackosm_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of kraina-ai/quackosm.

The reference (read-only at /root/reference) converts OpenStreetMap
``*.osm.pbf`` files into analysis-ready GeoParquet via generated DuckDB SQL.
This package re-expresses every operator of that pipeline Spark-first:

- ``sources.pbf``      — OSM PBF blobs decoded in Arrow-batched Python tasks
                         (reference: quackosm/pbf_file_reader.py:1199 ST_READOSM)
- ``filters.tags``     — the OsmTagsFilter algebra compiled to Spark Columns
                         (reference: quackosm/_osm_tags_filters.py)
- ``filters.geometry`` — bbox prefilter + exact point-in-polygon
                         (reference: quackosm/_intersection.py)
- ``geometry``         — pure-numpy WKB constructors and ring/line kernels
                         (reference: DuckDB-spatial ST_* functions)
- ``plans.pipeline``   — the staged element→feature dataflow C1..C12
                         (reference: quackosm/pbf_file_reader.py:1527-3697)
- ``operators``        — generic relational + large-scale training-data ops
                         (dedup, similarity search, text analysis, multimodal)
- ``sinks.geoparquet`` — GeoParquet 1.1.0 metadata writer
                         (reference: quackosm/_geoparquet_metadata.py)

Everything is expressed with the DataFrame API so Catalyst handles predicate
pushdown, column pruning, and join planning; Python executes only in
Arrow-vectorized kernels where Spark has no builtin (PBF decode, geometry
assembly).
"""

from quackosm_spark.session import get_spark
from quackosm_spark.functions import (
    convert_geometry_to_duckdb,
    convert_geometry_to_geodataframe,
    convert_geometry_to_parquet,
    convert_osm_extract_to_duckdb,
    convert_osm_extract_to_geodataframe,
    convert_osm_extract_to_parquet,
    convert_pbf_to_dataframe,
    convert_pbf_to_duckdb,
    convert_pbf_to_geodataframe,
    convert_pbf_to_parquet,
)
from quackosm_spark.extracts import display_available_extracts
from quackosm_spark.geocode import geocode_to_geometry
from quackosm_spark.pbf_file_reader import PbfFileReader

__version__ = "0.1.0"

# the reference's public __all__ (quackosm/__init__.py), plus the
# Spark-native additions (get_spark, convert_pbf_to_dataframe)
__all__ = [
    "PbfFileReader",
    "convert_geometry_to_duckdb",
    "convert_geometry_to_geodataframe",
    "convert_geometry_to_parquet",
    "convert_osm_extract_to_duckdb",
    "convert_osm_extract_to_geodataframe",
    "convert_osm_extract_to_parquet",
    "convert_pbf_to_dataframe",
    "convert_pbf_to_duckdb",
    "convert_pbf_to_geodataframe",
    "convert_pbf_to_parquet",
    "display_available_extracts",
    "geocode_to_geometry",
    "get_spark",
]
