"""Top-level conversion API — Spark analogue of quackosm/functions.py.

`convert_pbf_to_dataframe` builds the full lazy plan (scan → C1..C11) and
returns the shaped features DataFrame; `convert_pbf_to_parquet` additionally
writes GeoParquet with content-addressed caching (§1.5) and optional Hilbert
spatial sorting (O3).
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from quackosm_spark import cache
from quackosm_spark.filters.tags import merge_osm_tags_filter
from quackosm_spark.plans.pipeline import (
    PbfPipelineOptions,
    build_features,
)
from quackosm_spark.plans.output import (
    dedup_features,
    drop_empty_columns,
    explode_tags_to_columns,
    group_tags_to_columns,
    keep_relevant_tags,
    spatial_sort,
)
from quackosm_spark.sinks.geoparquet import write_geoparquet
from quackosm_spark.sources.pbf import read_osm_pbf

Geometry = dict[str, Any]


def is_url_path(path: Union[str, Path]) -> bool:
    """S2 URL-ingest detection (reference `_is_url_path`,
    pbf_file_reader.py:4354-4360)."""
    from urllib.parse import urlparse

    return urlparse(str(path)).scheme in ("http", "https", "ftp")


def _resolve_pbf_paths(
    pbf_path: Union[str, Path, Sequence[Union[str, Path]]],
    download_directory: Union[str, Path] = "files",
) -> list[str]:
    """Download remote PBFs to local storage before the scan (S2). The
    reference fetches via pooch (pbf_file_reader.py:1160-1171); here a plain
    urllib retrieve with content-addressed caching by file name."""
    paths = [pbf_path] if isinstance(pbf_path, (str, Path)) else list(pbf_path)
    resolved: list[str] = []
    for p in paths:
        if is_url_path(p):
            from urllib.request import urlretrieve

            target = Path(download_directory) / Path(str(p)).name
            if not target.exists():
                target.parent.mkdir(parents=True, exist_ok=True)
                urlretrieve(str(p), target)  # noqa: S310 - scheme checked above
            resolved.append(str(target))
        else:
            resolved.append(str(p))
    return resolved


def convert_pbf_to_dataframe(
    spark: SparkSession,
    pbf_path: Union[str, Path, Sequence[Union[str, Path]]],
    *,
    tags_filter: Optional[Any] = None,
    keep_all_tags: bool = False,
    explode_tags: Optional[bool] = None,
    geometry_filter: Optional[Geometry] = None,
    custom_sql_filter: Optional[str] = None,
    filter_osm_ids: Sequence[str] = (),
    ignore_metadata_tags: bool = True,
    osm_way_polygon_features_config: Optional[dict[str, Any]] = None,
    download_directory: Union[str, Path] = "files",
) -> DataFrame:
    """PBF file(s) → features DataFrame (feature_id, tags…, geometry WKB).

    Multi-file note (C12): the reference converts each extract separately
    and merges/dedups the outputs (pbf_file_reader.py:446-560). Here all
    files feed ONE distributed pipeline run — strictly better semantics
    (ways crossing extract boundaries resolve nodes from the neighbouring
    file instead of being dropped as invalid) at the same cost, since
    Spark parallelizes across files' blobs anyway; feature-level dedup
    still applies for overlapping extracts."""
    paths = _resolve_pbf_paths(pbf_path, download_directory)
    # dispatch by extension: .osm files go through the XML source (same
    # element schema); mixed inputs union into one pipeline run
    xml_paths = [
        p for p in paths
        if p.endswith((".osm", ".osm.xml", ".osm.gz", ".osm.bz2"))
    ]
    pbf_paths = [p for p in paths if p not in xml_paths]
    parts = []
    if pbf_paths:
        parts.append(read_osm_pbf(spark, *pbf_paths))
    if xml_paths:
        from quackosm_spark.sources.osm_xml import read_osm_xml

        parts.append(read_osm_xml(spark, *xml_paths))
    elements = parts[0]
    for extra in parts[1:]:
        elements = elements.unionByName(extra)
    if len(paths) > 1:
        # Overlapping extracts (or the same file listed twice) put the SAME
        # element into the union; duplicated way/relation member rows would
        # then corrupt ordered-collect geometry assembly (doubled points,
        # unmergeable rings). The reference dedups per-file OUTPUTS
        # (pbf_file_reader.py:1126-1139); with one unified DAG we dedup the
        # ELEMENTS once up front instead — one shuffle, and only when there
        # is more than one input file.
        elements = elements.dropDuplicates(["kind", "id"])
    from quackosm_spark.filters.tags import (  # noqa: PLC0415
        _is_grouped_filter,
        expand_wildcard_keys,
        has_positive_clause,
    )

    # Wildcard-key expansion happens ONCE here (one distinct-keys pass) and
    # the expanded filter drives BOTH the pipeline prefilter and the output
    # shaping below — mirroring the reference, where the expanded filter is
    # stored and read by the SQL filter AND the select generator
    # (pbf_file_reader.py:1205-1206, 3699-3809).
    tags_filter = expand_wildcard_keys(elements, tags_filter)
    opts = PbfPipelineOptions(
        tags_filter=tags_filter,
        keep_all_tags=keep_all_tags,
        explode_tags=explode_tags,
        geometry_filter=geometry_filter,
        custom_sql_filter=custom_sql_filter,
        filter_osm_ids=tuple(filter_osm_ids),
        ignore_metadata_tags=ignore_metadata_tags,
        osm_way_polygon_features_config=osm_way_polygon_features_config,
    )
    features = build_features(spark, elements, opts)
    if len(paths) > 1:
        features = dedup_features(features)

    explode = opts.resolve_explode_tags()
    # Shaping rule (reference pbf_file_reader.py:3699-3711): a filter with no
    # positive clause (or keep_all_tags) shapes output exactly like "no
    # filter" — exploded mode then discovers ALL keys from the (already
    # filtered) data, compact mode keeps the full tags map.
    shape_by_filter = (
        tags_filter is not None
        and has_positive_clause(tags_filter)
        and not keep_all_tags
    )
    if shape_by_filter and _is_grouped_filter(tags_filter):
        shaped = group_tags_to_columns(features, tags_filter, explode=explode)
        return drop_empty_columns(shaped) if explode else shaped
    merged = merge_osm_tags_filter(tags_filter) if tags_filter is not None else None
    if explode:
        shaped = explode_tags_to_columns(
            features, merged if shape_by_filter else None, keep_all_tags
        )
        return drop_empty_columns(shaped)
    if shape_by_filter:
        features = keep_relevant_tags(features, merged)
    return features


def convert_pbf_to_parquet(
    spark: SparkSession,
    pbf_path: Union[str, Path, Sequence[Union[str, Path]]],
    *,
    result_file_path: Optional[Union[str, Path]] = None,
    working_directory: Union[str, Path] = "files",
    ignore_cache: bool = False,
    sort_result: bool = True,
    sort_algorithm: str = "hilbert",
    save_as_wkt: bool = False,
    compression: str = "zstd",
    compression_level: Optional[int] = None,
    row_group_size: Optional[int] = None,
    parquet_version: Optional[str] = None,
    max_records_per_file: Optional[int] = None,
    tags_filter: Optional[Any] = None,
    keep_all_tags: bool = False,
    explode_tags: Optional[bool] = None,
    geometry_filter: Optional[Geometry] = None,
    custom_sql_filter: Optional[str] = None,
    filter_osm_ids: Sequence[str] = (),
    ignore_metadata_tags: bool = True,
    osm_way_polygon_features_config: Optional[dict[str, Any]] = None,
    bbox_column: bool = False,
) -> Path:
    """PBF file(s) → GeoParquet directory; cache-hit short-circuits the run.

    ``bbox_column=True`` adds the GeoParquet 1.1 per-row bounds covering
    column (see ``sinks.geoparquet.write_geoparquet``)."""
    opts = PbfPipelineOptions(
        tags_filter=tags_filter,
        keep_all_tags=keep_all_tags,
        explode_tags=explode_tags,
        geometry_filter=geometry_filter,
        custom_sql_filter=custom_sql_filter,
        filter_osm_ids=tuple(filter_osm_ids),
        ignore_metadata_tags=ignore_metadata_tags,
    )
    if result_file_path is None:
        result_file_path = cache.result_file_path(
            pbf_path,
            working_directory,
            tags_filter=tags_filter,
            keep_all_tags=keep_all_tags,
            explode_tags=opts.resolve_explode_tags(),
            geometry_filter=geometry_filter,
            custom_sql_filter=custom_sql_filter,
            filter_osm_ids=filter_osm_ids,
            ignore_metadata_tags=ignore_metadata_tags,
            sort_result=sort_result,
            save_as_wkt=save_as_wkt,
            bbox_column=bbox_column,
        )
    result_file_path = Path(result_file_path)
    if result_file_path.exists() and not ignore_cache:
        return result_file_path

    features = convert_pbf_to_dataframe(
        spark,
        pbf_path,
        tags_filter=tags_filter,
        keep_all_tags=keep_all_tags,
        explode_tags=explode_tags,
        geometry_filter=geometry_filter,
        custom_sql_filter=custom_sql_filter,
        filter_osm_ids=filter_osm_ids,
        ignore_metadata_tags=ignore_metadata_tags,
        osm_way_polygon_features_config=osm_way_polygon_features_config,
    )
    # stats once, on the unsorted features: the extent keys the sort and the
    # types + bbox go to the footer
    from quackosm_spark.sinks.geoparquet import collect_geo_stats

    geometry_types, bbox = collect_geo_stats(features)
    if sort_result:
        features = spatial_sort(features, extent=bbox, algorithm=sort_algorithm)
    # WKT outputs carry the same geo metadata as WKB ones (reference
    # tests/base/test_pbf_file_reader.py:95-98)
    write_geoparquet(
        features,
        result_file_path,
        geometry_types=geometry_types,
        bbox=bbox,
        compression=compression,
        compression_level=compression_level,
        row_group_size=row_group_size,
        parquet_version=parquet_version,
        max_records_per_file=max_records_per_file,
        bbox_column=bbox_column,
        encoding="WKT" if save_as_wkt else "WKB",
    )
    return result_file_path


def convert_geometry_to_parquet(
    spark: SparkSession,
    geometry_filter: Geometry,
    extracts_index: Optional[Sequence[Any]] = None,
    *,
    osm_extract_source: str = "any",
    pbf_fetcher: Any = None,
    download_directory: Union[str, Path] = "files",
    geometry_coverage_iou_threshold: float = 0.01,
    allow_uncovered_geometry: bool = False,
    **convert_kwargs: Any,
) -> Path:
    """Geometry-driven conversion (reference §3.2 lifecycle,
    pbf_file_reader.py:635-745): find the smallest extract set covering the
    geometry (C13), resolve their local PBF files (with the 404-retry
    exclusion loop), convert with the geometry filter applied.

    ``extracts_index`` is a list of ``OpenStreetMapExtract`` (see
    ``quackosm_spark.extracts.build_index`` / ``load_index``); when omitted
    the index resolves from ``osm_extract_source`` through
    ``extracts.get_source_index`` (cache → precalculated parquet → live
    provider fetch). ``pbf_fetcher`` injects the PBF transport (None = the
    default urllib fetch; pre-placed local files short-circuit it)."""
    pbf_paths = _resolve_geometry_extracts(
        geometry_filter,
        extracts_index,
        download_directory=download_directory,
        geometry_coverage_iou_threshold=geometry_coverage_iou_threshold,
        allow_uncovered_geometry=allow_uncovered_geometry,
        osm_extract_source=osm_extract_source,
        pbf_fetcher=pbf_fetcher,
    )
    if pbf_paths is None:
        empty = _empty_features(spark)
        out = Path(download_directory) / "empty_result.parquet"
        write_geoparquet(empty, out)
        return out
    return convert_pbf_to_parquet(
        spark, pbf_paths, geometry_filter=geometry_filter, **convert_kwargs
    )


def _resolve_geometry_extracts(
    geometry_filter: Geometry,
    extracts_index: Optional[Sequence[Any]],
    *,
    download_directory: Union[str, Path],
    geometry_coverage_iou_threshold: float,
    allow_uncovered_geometry: bool,
    osm_extract_source: str = "any",
    pbf_fetcher: Any = None,
) -> Optional[list[Path]]:
    """C13 coverage search + extract resolution with the 404-retry loop
    (unavailable extracts excluded, coverage recalculated); ``None`` ⇒
    nothing covers the geometry (caller emits the reference's empty-result
    warning path). ``extracts_index=None`` resolves the index from
    ``osm_extract_source`` via ``extracts.get_source_index``."""
    from quackosm_spark.extracts import (
        find_and_download_extracts_pbf_files,
        get_source_index,
    )

    if extracts_index is None:
        extracts_index = get_source_index(osm_extract_source)
    pairs = find_and_download_extracts_pbf_files(
        geometry_filter,
        extracts_index,
        download_directory,
        geometry_coverage_iou_threshold=geometry_coverage_iou_threshold,
        allow_uncovered_geometry=allow_uncovered_geometry,
        fetcher=pbf_fetcher,
    )
    if not pairs:
        import warnings

        warnings.warn(
            "Found 0 extracts covering the geometry. Returning empty result.",
            UserWarning,
            stacklevel=0,
        )
        return None
    return [path for _extract, path in pairs]


def convert_geometry_to_geodataframe(
    spark: SparkSession,
    geometry_filter: Geometry,
    extracts_index: Optional[Sequence[Any]] = None,
    *,
    osm_extract_source: str = "any",
    pbf_fetcher: Any = None,
    download_directory: Union[str, Path] = "files",
    geometry_coverage_iou_threshold: float = 0.01,
    allow_uncovered_geometry: bool = False,
    **convert_kwargs: Any,
):
    """Geometry-driven conversion to a (Geo)DataFrame (reference
    functions.py `convert_geometry_to_geodataframe`)."""
    pbf_paths = _resolve_geometry_extracts(
        geometry_filter,
        extracts_index,
        download_directory=download_directory,
        geometry_coverage_iou_threshold=geometry_coverage_iou_threshold,
        allow_uncovered_geometry=allow_uncovered_geometry,
        osm_extract_source=osm_extract_source,
        pbf_fetcher=pbf_fetcher,
    )
    if pbf_paths is None:
        import pandas as _pd

        return _pd.DataFrame(columns=["tags", "geometry"]).rename_axis("feature_id")
    return convert_pbf_to_geodataframe(
        spark, pbf_paths, geometry_filter=geometry_filter, **convert_kwargs
    )


def convert_geometry_to_duckdb(
    spark: SparkSession,
    geometry_filter: Geometry,
    extracts_index: Sequence[Any],
    *,
    duckdb_table_name: str = "quackosm",
    result_file_path: Optional[Union[str, Path]] = None,
    download_directory: Union[str, Path] = "files",
    geometry_coverage_iou_threshold: float = 0.01,
    allow_uncovered_geometry: bool = False,
    **convert_kwargs: Any,
) -> Path:
    """Geometry-driven conversion into a ``.duckdb`` database file
    (reference functions.py `convert_geometry_to_duckdb`)."""
    parquet_path = convert_geometry_to_parquet(
        spark,
        geometry_filter,
        extracts_index,
        download_directory=download_directory,
        geometry_coverage_iou_threshold=geometry_coverage_iou_threshold,
        allow_uncovered_geometry=allow_uncovered_geometry,
        **convert_kwargs,
    )
    return _parquet_to_duckdb(parquet_path, duckdb_table_name, result_file_path)


def _empty_features(spark: SparkSession) -> DataFrame:
    """S9: 0-row features frame with the canonical schema."""
    from pyspark.sql.types import BinaryType, MapType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("feature_id", StringType()),
            StructField("tags", MapType(StringType(), StringType())),
            StructField("geometry", BinaryType()),
        ]
    )
    return spark.createDataFrame([], schema)


def convert_osm_extract_to_parquet(
    spark: SparkSession,
    query: str,
    extracts_index: Sequence[Any],
    *,
    download_directory: Union[str, Path] = "files",
    select_first_match: bool = True,
    **convert_kwargs: Any,
) -> Path:
    """Named-extract conversion (reference functions.py
    `convert_osm_extract_to_parquet`): fuzzy-match the extract by name (C14),
    resolve its PBF through the 404-retry loop (an unavailable match is
    excluded and the next matching extract tried), convert."""
    from quackosm_spark.extracts import download_extract_by_query

    pbf = download_extract_by_query(
        query,
        extracts_index,
        download_directory,
        select_first_match=select_first_match,
    )
    return convert_pbf_to_parquet(spark, pbf, **convert_kwargs)


def convert_osm_extract_to_geodataframe(
    spark: SparkSession,
    query: str,
    extracts_index: Sequence[Any],
    *,
    download_directory: Union[str, Path] = "files",
    select_first_match: bool = True,
    **convert_kwargs: Any,
):
    """Named-extract conversion to a (Geo)DataFrame (reference functions.py
    `convert_osm_extract_to_geodataframe`)."""
    from quackosm_spark.extracts import download_extract_by_query

    pbf = download_extract_by_query(
        query,
        extracts_index,
        download_directory,
        select_first_match=select_first_match,
    )
    return convert_pbf_to_geodataframe(spark, pbf, **convert_kwargs)


def convert_osm_extract_to_duckdb(
    spark: SparkSession,
    query: str,
    extracts_index: Sequence[Any],
    *,
    duckdb_table_name: str = "quackosm",
    result_file_path: Optional[Union[str, Path]] = None,
    download_directory: Union[str, Path] = "files",
    select_first_match: bool = True,
    **convert_kwargs: Any,
) -> Path:
    """Named-extract conversion into a ``.duckdb`` database file (reference
    functions.py `convert_osm_extract_to_duckdb`)."""
    parquet_path = convert_osm_extract_to_parquet(
        spark,
        query,
        extracts_index,
        download_directory=download_directory,
        select_first_match=select_first_match,
        **convert_kwargs,
    )
    return _parquet_to_duckdb(parquet_path, duckdb_table_name, result_file_path)


def _parquet_to_duckdb(
    parquet_path: Path,
    duckdb_table_name: str,
    result_file_path: Optional[Union[str, Path]],
) -> Path:
    """S7 driver-side export shared by every ``*_to_duckdb`` entry point."""
    import duckdb

    if result_file_path is None:
        result_file_path = parquet_path.with_suffix(".duckdb")
    result_file_path = Path(result_file_path)
    result_file_path.unlink(missing_ok=True)
    with duckdb.connect(str(result_file_path)) as con:
        con.sql(
            f"CREATE OR REPLACE TABLE {duckdb_table_name} AS"
            f" SELECT * FROM read_parquet('{parquet_path}/*.parquet')"
        )
    return result_file_path


def convert_pbf_to_duckdb(
    spark: SparkSession,
    pbf_path: Union[str, Path, Sequence[Union[str, Path]]],
    *,
    duckdb_table_name: str = "quackosm",
    result_file_path: Optional[Union[str, Path]] = None,
    **convert_kwargs: Any,
) -> Path:
    """S7 DuckDB sink (reference pbf_file_reader.py:947-959): convert to
    GeoParquet, then load into a ``.duckdb`` database file on the driver —
    a thin export; all heavy lifting stays distributed."""
    parquet_path = convert_pbf_to_parquet(spark, pbf_path, **convert_kwargs)
    return _parquet_to_duckdb(parquet_path, duckdb_table_name, result_file_path)


def convert_pbf_to_geodataframe(
    spark: SparkSession,
    pbf_path: Union[str, Path, Sequence[Union[str, Path]]],
    **convert_kwargs: Any,
):
    """S8 GeoDataFrame sink (reference pbf_file_reader.py:802-808): features
    as a pandas DataFrame indexed by feature_id, geometry as shapely objects
    when shapely is importable, else GeoJSON-style dicts.

    Accepts (and ignores) the parquet-writer-only kwargs of the reference
    signature (``working_directory``, ``sort_result``, ``ignore_cache``, …) —
    this path never materializes an intermediate file, so they are moot."""
    import inspect

    accepted = set(inspect.signature(convert_pbf_to_dataframe).parameters)
    df_kwargs = {k: v for k, v in convert_kwargs.items() if k in accepted}
    features = convert_pbf_to_dataframe(spark, pbf_path, **df_kwargs)
    pdf = features.toPandas().set_index("feature_id")

    from quackosm_spark.geometry import wkb as wkb_codec

    try:  # pragma: no cover - shapely not present in this environment
        from shapely import wkb as shapely_wkb  # type: ignore

        pdf["geometry"] = [shapely_wkb.loads(bytes(b)) for b in pdf["geometry"]]
        try:
            import geopandas as gpd  # type: ignore

            return gpd.GeoDataFrame(pdf, geometry="geometry", crs="OGC:CRS84")
        except ImportError:
            return pdf
    except ImportError:
        pdf["geometry"] = [
            wkb_codec.loads(bytes(b)) if b is not None else None for b in pdf["geometry"]
        ]
        return pdf
