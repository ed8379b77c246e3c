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
from pyspark.sql.types import DoubleType, StructField, StructType

from quackosm_spark.constants import FEATURES_INDEX, GEOMETRY_COLUMN
from quackosm_spark.filters.tags import (
    GroupedOsmTagsFilter,
    OsmTagsFilter,
    merge_osm_tags_filter,
)
from quackosm_spark.geometry import wkb as wkb_codec
from quackosm_spark.plans.persist import persist


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
    features = persist(features)
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
    per-feature bounds. They read the private bounds column when the frame
    carries it (``convert_pbf_to_parquet`` caches it with the features) and
    add it with ``with_bounds`` otherwise. The bounds are dropped before
    the range shuffle; only the keys cross it.

    ``algorithm="hilbert"`` (default): the Hilbert key of the centroid,
    computed in the JVM (``with_hilbert_key``) →
    ``repartitionByRange`` + ``sortWithinPartitions`` so readers get
    row-group pruning by locality. ``extent`` defaults to the dataset bbox
    from ``collect_geo_stats`` (one aggregate job); pass it to start no job
    here. ``num_partitions`` pins the output file count (AQE otherwise
    coalesces small outputs to one).

    ``algorithm="str"``: Sort-Tile-Recursive slab packing — range-partition
    on centroid x (vertical slabs), order by centroid y, then x, within each
    slab.
    ``repartitionByRange(x) + sortWithinPartitions(y)`` IS the STR recursion
    expressed in Spark primitives: the range partitioner computes the x
    slab boundaries from a sample, each output file is one slab.
    """
    if algorithm not in ("hilbert", "str"):
        raise ValueError(f"Unknown sort algorithm: {algorithm!r} (str|hilbert)")
    bounds = F.col(BOUNDS_COLUMN)
    cx = (bounds["xmin"] + bounds["xmax"]) / 2.0
    cy = (bounds["ymin"] + bounds["ymax"]) / 2.0
    keyed = with_bounds(features)
    if algorithm == "str":
        # features on one row of a grid share their y: x orders them, so the
        # order does not depend on the order the rows arrive in
        range_key, sort_keys = "__cx", ["__cy", "__cx"]
        keyed = keyed.withColumns({"__cx": cx, "__cy": cy})
    else:
        if extent is None:
            from quackosm_spark.sinks.geoparquet import collect_geo_stats

            extent = collect_geo_stats(features)[1]
        range_key, sort_keys = "__hilbert", ["__hilbert"]
        keyed = with_hilbert_key(keyed, cx, cy, extent, range_key)
    keyed = keyed.drop(BOUNDS_COLUMN)
    ranged = (
        keyed.repartitionByRange(num_partitions, range_key)
        if num_partitions
        else keyed.repartitionByRange(range_key)
    )
    return ranged.sortWithinPartitions(*sort_keys).drop(range_key, *sort_keys)


def _hilbert_steps() -> tuple[list[int], list[int]]:
    """``hilbert_index``'s per-level step as two tables indexed by
    ``4 * state + quad``: the next state and the base-4 digit. ``quad`` is
    ``2 * x_bit + y_bit`` of the cell at this level; ``state`` is
    ``2 * swapped + complemented``, how the levels above rotated the cell.
    Only the bits below the level matter from here on, and for those
    ``s - 1 - x`` is the complement."""
    steps, digits = [], []
    for state in range(4):
        swapped, complemented = state >> 1, state & 1
        for quad in range(4):
            bx, by = quad >> 1, quad & 1
            rx = (by if swapped else bx) ^ complemented
            ry = (bx if swapped else by) ^ complemented
            digits.append((3 * rx) ^ ry)
            steps.append(2 * (swapped ^ (ry == 0)) + (complemented ^ (ry == 0 and rx == 1)))
    return steps, digits


# Bit levels per projection of the Hilbert key. Every projection costs the
# driver one analysis of the whole conversion plan (tens of ms at the
# bench size), but within one projection each level's state is repeated
# in every later digit, so the expression grows quadratically: at 8 levels
# the generated code got too large and keys took 20 s per 2M rows on
# 4 cores, against 0.9 s at 4 levels.
_LEVELS_PER_PROJECTION = 4


def with_hilbert_key(
    frame: DataFrame,
    cx: Column,
    cy: Column,
    extent: tuple[float, float, float, float],
    name: str,
    order: int = 16,
) -> DataFrame:
    """``frame`` with column ``name`` = ``geometry.ops.hilbert_index`` of
    the centroid ``(cx, cy)``, computed in the JVM: the same scaling into
    ``extent`` (clamped to the grid), then one lookup of the next state
    and digit per bit level (``_hilbert_steps``), so the keys are equal. A NaN or null centroid gets a null key, which sorts
    first."""
    minx, miny, maxx, maxy = extent
    top = float((1 << order) - 1)

    def cell(v: Column, lo: float, hi: float) -> Column:
        scaled = (v - lo) / (hi - lo or 1.0) * top
        return F.least(F.greatest(scaled, F.lit(0.0)), F.lit(top)).cast("long")

    # SQL text, not Column calls: each Column call is a round trip to the JVM
    steps, digits = (f"array({', '.join(map(str, t))})" for t in _hilbert_steps())
    frame = frame.withColumns({"__hx": cell(cx, minx, maxx), "__hy": cell(cy, miny, maxy)})
    state, key = "0", "0L"
    for level in reversed(range(order)):
        quad = f"int((shiftright(__hx, {level}) & 1) * 2 + (shiftright(__hy, {level}) & 1))"
        at = f"{state} * 4 + {quad}"
        state, key = f"{steps}[{at}]", f"({key}) * 4 + {digits}[{at}]"
        if level % _LEVELS_PER_PROJECTION == 0:
            frame = frame.withColumns({"__hs": F.expr(state), name: F.expr(key)})
            state, key = "__hs", f"`{name}`"
    finite = cx.isNotNull() & cy.isNotNull() & ~F.isnan(cx) & ~F.isnan(cy)
    return frame.withColumn(name, F.when(finite, F.col(name))).drop("__hx", "__hy", "__hs")


_BBOX_STRUCT = StructType(
    [StructField(side, DoubleType()) for side in ("xmin", "ymin", "xmax", "ymax")]
)

# the private per-feature bounds column; see ``with_bounds``
BOUNDS_COLUMN = "__bounds"


@F.pandas_udf(_BBOX_STRUCT)
def geometry_bbox_udf(geometry: pd.Series) -> pd.DataFrame:
    """Per-feature bounds struct — ONE WKB decode per row, the only one on
    the write path. ``with_bounds`` adds it as a column once; the footer
    extent (``collect_geo_stats``), the sort centroid (``spatial_sort``)
    and the GeoParquet 1.1 bbox covering column all read that column.
    Empty geometries get NaN bounds."""
    from quackosm_spark.geometry import model

    rows = [
        model.bounds(wkb_codec.loads(bytes(b))) if b is not None else (None,) * 4
        for b in geometry
    ]
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def with_bounds(features: DataFrame) -> DataFrame:
    """``features`` with the private ``BOUNDS_COLUMN`` (the
    ``geometry_bbox_udf`` struct), added only when it is missing."""
    if BOUNDS_COLUMN in features.columns:
        return features
    return features.withColumn(BOUNDS_COLUMN, geometry_bbox_udf(GEOMETRY_COLUMN))
