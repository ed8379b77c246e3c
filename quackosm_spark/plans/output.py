"""Output shaping (C11) + empty-column drop (P11) + multi-file dedup (J6/C12)
+ spatial sort key (O3).

Reference: quackosm/pbf_file_reader.py:3699-3946 (shaping), 3991-4004
(empty-column drop), 1082-1095/4327-4351 (dedup), 4021-4043 (sort dispatch).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from quackosm_spark.constants import FEATURES_INDEX
from quackosm_spark.filters.tags import (
    GroupedOsmTagsFilter,
    OsmTagsFilter,
    merge_osm_tags_filter,
)
from quackosm_spark.geometry import wkb as wkb_codec


def explode_tags_to_columns(
    features: DataFrame,
    tags_filter: Optional[OsmTagsFilter] = None,
    keep_all_tags: bool = False,
) -> DataFrame:
    """Compact map → one STRING column per tag key (exploded mode).

    Column set: the (expanded, merged) filter's non-``False`` keys when a
    positive filter exists and ``keep_all_tags`` is off; otherwise discovered
    from the data with a distinct-keys pass (reference
    pbf_file_reader.py:3713-3728 — the same two-phase dynamic-schema shape).

    Value-filtered keys (``{k: "v"}`` / ``{k: [..]}``) are CASE-masked: the
    column is NULL unless the tag value matches the filter, even when the
    feature matched the overall filter via another key (reference
    pbf_file_reader.py:3765-3798).
    """
    from quackosm_spark.filters.tags import (  # noqa: PLC0415
        has_positive_clause,
        star_to_like_pattern,
    )

    use_filter = (
        tags_filter is not None
        and has_positive_clause(tags_filter)
        and not keep_all_tags
    )
    cols = [F.col(FEATURES_INDEX)]
    if use_filter:
        for k in sorted(
            (k for k, v in tags_filter.items() if v is not False), key=str.casefold
        ):
            value = tags_filter[k]
            tag_val = F.col("tags")[k]
            if value is True:
                cols.append(tag_val.alias(k))
                continue
            values = [value] if isinstance(value, str) else list(value)
            match = F.lit(False)
            for single in values:
                if "*" in single:
                    match = match | tag_val.like(star_to_like_pattern(single))
                else:
                    match = match | (tag_val == single)
            cols.append(F.when(match, tag_val).alias(k))
    else:
        keys = sorted(
            (
                r["key"]
                for r in features.select(
                    F.explode(F.map_keys("tags")).alias("key")
                )
                .distinct()
                .collect()
            ),
            key=str.casefold,
        )
        cols += [F.col("tags")[k].alias(k) for k in keys]
    if len(cols) - 1 > 100:
        import warnings

        warnings.warn(
            "Select clause contains more than 100 columns"
            f" (found {len(cols) - 1} columns)."
            " Query might fail with insufficient memory resources."
            " Consider applying more restrictive OsmTagsFilter for parsing.",
            stacklevel=1,
        )
    cols.append(F.col("geometry"))
    return features.select(*cols)


def group_tags_to_columns(
    features: DataFrame, grouped_filter: GroupedOsmTagsFilter, explode: bool = True
) -> DataFrame:
    """Grouped mode (reference `_parse_features_relation_to_groups`,
    pbf_file_reader.py:3811-3946): each group gets the value
    ``'key=value'`` of the first filter key whose clause matches.

    ``explode=True`` → one STRING column per group (group names sorted);
    ``explode=False`` → a single ``tags`` map column ``group → 'key=value'``
    with NULL-valued groups omitted (reference's compact grouped branch).
    """
    from quackosm_spark.filters.tags import star_to_like_pattern  # noqa: PLC0415

    group_cols: list[tuple[str, Column]] = []
    for group_name in sorted(grouped_filter.keys()):
        flat = grouped_filter[group_name]
        clauses: list[Column] = []
        for key, value in flat.items():
            tag_val = F.col("tags")[key]
            if value is True:
                match = tag_val.isNotNull()
            elif value is False:
                continue
            else:
                values = [value] if isinstance(value, str) else list(value)
                match = F.lit(False)
                for single in values:
                    if "*" in single:
                        match = match | tag_val.like(star_to_like_pattern(single))
                    else:
                        match = match | (tag_val == single)
            clauses.append(F.when(match, F.concat(F.lit(key + "="), tag_val)))
        col = F.coalesce(*clauses) if clauses else F.lit(None).cast("string")
        group_cols.append((group_name, col))

    if explode:
        cols: list[Column] = [F.col(FEATURES_INDEX)]
        cols += [col.alias(name) for name, col in group_cols]
        cols.append(F.col("geometry"))
        return features.select(*cols)
    groups_map = F.map_from_arrays(
        F.array(*[F.lit(name) for name, _ in group_cols]),
        F.array(*[col for _, col in group_cols]),
    )
    tags_map = F.map_filter(groups_map, lambda _k, v: v.isNotNull())
    return features.select(
        F.col(FEATURES_INDEX), tags_map.alias("tags"), F.col("geometry")
    )


def keep_relevant_tags(
    features: DataFrame, tags_filter: Optional[OsmTagsFilter]
) -> DataFrame:
    """Compact mode with a positive filter: keep only tags matched by the
    filter (reference pbf_file_reader.py:3755-3762)."""
    if not tags_filter:
        return features
    merged = merge_osm_tags_filter(tags_filter)
    positive_keys = [k for k, v in merged.items() if v is not False]
    if not positive_keys:
        return features

    def _match(k: Column, v: Column) -> Column:
        clause = F.lit(False)
        for key, value in merged.items():
            if value is False:
                continue
            if value is True:
                clause = clause | (k == key)
            else:
                values = [value] if isinstance(value, str) else value
                exact = [x for x in values if "*" not in x]
                like = [x for x in values if "*" in x]
                sub = F.lit(False)
                if exact:
                    sub = sub | v.isin(exact)
                for pattern in like:
                    from quackosm_spark.filters.tags import star_to_like_pattern

                    sub = sub | v.like(star_to_like_pattern(pattern))
                clause = clause | ((k == key) & sub)
        return clause

    return features.withColumn("tags", F.map_filter("tags", _match)).where(
        F.size(F.map_keys("tags")) > 0
    )


def drop_empty_columns(features: DataFrame, protected: tuple[str, ...] = (FEATURES_INDEX, "geometry")) -> DataFrame:
    """P11: drop exploded columns that are entirely NULL — one aggregate pass
    (reference pbf_file_reader.py:3991-4004)."""
    candidates = [c for c in features.columns if c not in protected]
    if not candidates:
        return features
    # the counts pass below is an ACTION; without persisting, it would run
    # the full upstream pipeline once here and again for the caller's own
    # action (measured: 2× conversion time in exploded mode)
    from pyspark import StorageLevel

    features = features.persist(StorageLevel.MEMORY_AND_DISK)
    counts = features.select(
        [F.count(F.col(f"`{c}`")).alias(c) for c in candidates]
    ).collect()[0]
    empty = [c for c in candidates if counts[c] == 0]
    return features.drop(*[f"{c}" for c in empty]) if empty else features


def dedup_features(features: DataFrame) -> DataFrame:
    """J6: cross-file duplicate feature removal."""
    return features.dropDuplicates([FEATURES_INDEX])


def spatial_sort(
    features: DataFrame,
    extent: tuple[float, float, float, float] | None = None,
    num_partitions: int | None = None,
    algorithm: str = "hilbert",
) -> DataFrame:
    """O3 spatial sort (reference dispatch pbf_file_reader.py:4021-4043).

    Both algorithms key on the geometry centroid, the midpoint of the
    ``geometry_bbox_udf`` bounds (one WKB decode per row).

    ``algorithm="hilbert"`` (default): curve key of the centroid →
    ``repartitionByRange`` + ``sortWithinPartitions`` so readers get
    row-group pruning by locality. ``extent`` defaults to the dataset bbox
    from ``collect_geo_stats`` (one aggregate job); pass it to start no job
    here. ``num_partitions`` pins the output file count (AQE otherwise
    coalesces small outputs to one).

    ``algorithm="str"``: Sort-Tile-Recursive slab packing — range-partition
    on centroid x (vertical slabs), order by centroid y within each slab.
    ``repartitionByRange(x) + sortWithinPartitions(y)`` IS the STR recursion
    expressed in Spark primitives: the range partitioner computes the x
    slab boundaries from a sample, each output file is one slab.
    """
    if algorithm not in ("hilbert", "str"):
        raise ValueError(f"Unknown sort algorithm: {algorithm!r} (str|hilbert)")
    keyed = features.withColumn("__bb", geometry_bbox_udf("geometry")).withColumn(
        "__cx", (F.col("__bb.xmin") + F.col("__bb.xmax")) / 2.0
    ).withColumn("__cy", (F.col("__bb.ymin") + F.col("__bb.ymax")) / 2.0)
    if algorithm == "str":
        range_key, sort_key = "__cx", "__cy"
    else:
        if extent is None:
            from quackosm_spark.sinks.geoparquet import collect_geo_stats

            extent = collect_geo_stats(features)[1]

        @F.pandas_udf(LongType())
        def _hilbert_key(cx: pd.Series, cy: pd.Series) -> pd.Series:
            from quackosm_spark.geometry.ops import hilbert_index

            return pd.Series(hilbert_index(cx.to_numpy(), cy.to_numpy(), extent))

        # only the key crosses the shuffle
        keyed = keyed.withColumn("__hilbert", _hilbert_key("__cx", "__cy")).drop(
            "__bb", "__cx", "__cy"
        )
        range_key = sort_key = "__hilbert"
    ranged = (
        keyed.repartitionByRange(num_partitions, range_key)
        if num_partitions
        else keyed.repartitionByRange(range_key)
    )
    return ranged.sortWithinPartitions(sort_key).drop(
        "__bb", "__cx", "__cy", "__hilbert"
    )


from pyspark.sql.types import DoubleType, StructField, StructType

_BBOX_STRUCT = StructType(
    [StructField(side, DoubleType()) for side in ("xmin", "ymin", "xmax", "ymax")]
)


@F.pandas_udf(_BBOX_STRUCT)
def geometry_bbox_udf(geometry: pd.Series) -> pd.DataFrame:
    """Per-feature bounds struct — ONE WKB decode per row. Feeds the
    GeoParquet 1.1 bbox covering column, the footer extent
    (``collect_geo_stats``) and the sort centroid (``spatial_sort``)."""
    from quackosm_spark.geometry import model

    rows = [
        model.bounds(wkb_codec.loads(bytes(b))) if b is not None else (None,) * 4
        for b in geometry
    ]
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])
