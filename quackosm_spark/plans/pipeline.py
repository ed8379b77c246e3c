"""The element→feature dataflow: Spark-first reimplementation of the
reference's staged DuckDB pipeline (composite operators C1..C11, SURVEY §2.9).

Reference lifecycle (quackosm/pbf_file_reader.py:1148-1292):

    scan → tag/id/custom prefilter (C1) → ref closure (C2) → geometry filter
    (C3) → referential validity (C4) → node points (C6) → way linestrings (C7)
    → way polygonization (C8) → relation assembly (C9) → output shaping (C11)

Differences by design (not omissions):

- No id bookkeeping. The reference stages ~30 named id relations through
  parquet between DuckDB statements (pbf_file_reader.py:1527-2168). Here the
  prefilter (C1) is a row predicate per kind, and the geometry filter (C3)
  an ``inside`` flag per node. C4 is fused into the joins that build the
  geometry: J4 (way refs ⋈ node points) counts the matched refs, so a way is
  valid iff it matched all of them, and C9's member join drops a relation
  with a member way that did not resolve. Tags ride with their rows.
- Two fork-point caches: the elements, which every branch scans, and the
  assembled way lines, which the way features and the relation members
  both read.
- No memory ladders / watchdogs / group batching (reference
  ROWS_PER_GROUP_MEMORY_CONFIG): AQE + shuffle spill replace them.
- The per-relation ring assembly (C9) runs as one ``applyInPandas`` over
  ``groupBy(relation_id)`` — relations have few members, so the per-group
  kernel is tiny while the shuffle distributes by id.

Scale notes: the one big shuffle is way-refs ⋈ node-points (J4) on node id —
high-cardinality key, broadcast-ineligible at 100 TB, handled by sort-merge
join + AQE skew splitting. The required member way ids are a small side, so
AQE can broadcast them when the relations are few.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from quackosm_spark.constants import COORDINATE_PRECISION, FEATURES_INDEX
from quackosm_spark.filters.geometry import (
    bbox_prefilter,
    compile_point_in_polygon,
    validate_geometry_filter,
)
from quackosm_spark.filters.tags import (
    GroupedOsmTagsFilter,
    OsmTagsFilter,
    compile_tags_filter,
    expand_wildcard_keys,
    has_positive_clause,
    merge_osm_tags_filter,
    strip_metadata_tags,
)
from quackosm_spark.geometry import wkb
from quackosm_spark.geometry.ops import (
    is_closed,
    linemerge,
    remove_repeated_points,
    ring_within_ring,
)
from quackosm_spark.plans.persist import persist

Geometry = dict[str, Any]

def default_polygon_features_config() -> dict[str, Any]:
    from quackosm_spark.plans.polygon_features import OSM_WAY_POLYGON_FEATURES_CONFIG

    return OSM_WAY_POLYGON_FEATURES_CONFIG


@dataclass
class PbfPipelineOptions:
    """Conversion parameters (mirror of the reference API surface,
    quackosm/functions.py:40-120)."""

    tags_filter: Optional[OsmTagsFilter | GroupedOsmTagsFilter] = None
    keep_all_tags: bool = False
    explode_tags: Optional[bool] = None
    geometry_filter: Optional[Geometry] = None  # GeoJSON-style dict
    custom_sql_filter: Optional[str] = None
    filter_osm_ids: Sequence[str] = field(default_factory=tuple)
    ignore_metadata_tags: bool = True
    osm_way_polygon_features_config: Optional[dict[str, Any]] = None

    def resolve_explode_tags(self) -> bool:
        """Default rule (reference pbf_file_reader.py:416-419): explode iff a
        tags filter exists, has a positive clause, and keep_all_tags is off."""
        if self.explode_tags is not None:
            return self.explode_tags
        return (
            self.tags_filter is not None
            and has_positive_clause(self.tags_filter)
            and not self.keep_all_tags
        )


# --------------------------------------------------------------------------
# Kind split (P1) — validity predicates from pbf_file_reader.py:1546-1573
# --------------------------------------------------------------------------

def split_elements(elements: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    nodes = elements.where(
        (F.col("kind") == "node") & F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    ways = elements.where((F.col("kind") == "way") & (F.size("refs") >= 2))
    relations = elements.where(
        (F.col("kind") == "relation")
        & (F.size("refs") > 0)
        & F.col("tags")["type"].isin("boundary", "multipolygon")
    )
    return nodes, ways, relations


def _ids_filter(filter_osm_ids: Sequence[str], kind: str) -> Column:
    """P6 (reference pbf_file_reader.py:2633-2648): no ids → pass-through;
    ids present but none for this kind → match nothing."""
    if not filter_osm_ids:
        return F.lit(True)
    ids = [int(i.split("/", 1)[1]) for i in filter_osm_ids if i.startswith(f"{kind}/")]
    if not ids:
        return F.lit(False)
    return F.col("id").isin(ids)


def _non_empty(tags: str) -> Column:
    return F.col(tags).isNotNull() & (F.size(F.map_keys(tags)) > 0)


# --------------------------------------------------------------------------
# The plan
# --------------------------------------------------------------------------

def build_features(
    spark: SparkSession,
    elements: DataFrame,
    options: PbfPipelineOptions | None = None,
) -> DataFrame:
    """elements (SURVEY §1.1 schema) → features (feature_id, tags, geometry WKB).

    Output shaping (compact/exploded/grouped) is applied afterwards by
    ``functions.convert_pbf_to_dataframe`` with the ``plans.output``
    helpers; this function always returns the compact map form.
    """
    opts = options or PbfPipelineOptions()
    validate_geometry_filter(opts.geometry_filter)

    # every branch scans the elements, so they are decoded once; at cluster
    # scale swap MEMORY_AND_DISK for DISK_ONLY or a checkpoint dir
    elements = persist(elements)
    tags_filter = expand_wildcard_keys(elements, opts.tags_filter)
    merged_filter = merge_osm_tags_filter(tags_filter) if tags_filter is not None else None
    tag_clause = (
        compile_tags_filter(merged_filter, "raw_tags") if merged_filter else F.lit(True)
    )

    # ---- C1: the prefilter is a row predicate per kind, not an id set ----------
    # Each kind keeps its raw map as ``raw_tags`` (the tag clause and the
    # polygon decision read it) and its metadata-stripped map as ``tags`` (the
    # custom SQL and the output read it, reference pbf_file_reader.py:1585-1605).
    def _marked(kind_df: DataFrame, kind: str) -> DataFrame:
        marked = kind_df.withColumnRenamed("tags", "raw_tags").withColumns({
            "tags": strip_metadata_tags("raw_tags") if opts.ignore_metadata_tags
            else F.col("raw_tags"),
            "filtered": _non_empty("raw_tags") & tag_clause
            & _ids_filter(opts.filter_osm_ids, kind),
        })
        if opts.custom_sql_filter:
            marked = marked.withColumn(
                "filtered",
                F.col("filtered") & _non_empty("tags")
                & F.coalesce(F.expr(opts.custom_sql_filter), F.lit(False)),
            )
        return marked

    nodes, ways, relations = (
        _marked(df, kind)
        for df, kind in zip(split_elements(elements), ("node", "way", "relation"))
    )

    # ---- C3: a node is inside the geometry filter (on its raw lat/lon) ---------
    geometry = opts.geometry_filter
    nodes = nodes.withColumn(
        "inside",
        bbox_prefilter(geometry) & compile_point_in_polygon(geometry)
        if geometry is not None else F.lit(True),
    )

    # ---- C2: ref closure — filtered relations → their way members ------------
    # (only way-type members are used, pbf_file_reader.py:1665-1674)
    members = (
        relations.where("filtered")
        .select(
            "id",
            F.posexplode(
                F.arrays_zip(
                    F.col("refs").alias("ref"),
                    F.col("ref_types").alias("ref_type"),
                    F.col("ref_roles").alias("ref_role"),
                )
            ).alias("ref_idx", "m"),
        )
        .where(F.col("m.ref_type") == "way")
        .select("id", F.col("m.ref").alias("ref"), F.col("m.ref_role").alias("ref_role"),
                "ref_idx")
    )
    required = members.select("ref").distinct()
    ways_kept = (
        ways.join(required, ways["id"] == required["ref"], "left")
        .where(F.col("filtered") | F.col("ref").isNotNull())
        .select("id", "refs", "raw_tags", "tags", "filtered")
    )

    # ---- J4 + C4: way refs ⋈ node points also decides way validity -----------
    # A way is valid iff every ref matched a node point. A closed way's
    # repeated first ref matches twice and counts twice, like its size. Ways
    # kept only as relation members are assembled whether they intersect the
    # geometry filter or not, and their nodes keep their coordinates outside it
    # (pbf_file_reader.py:1995-2014).
    points = nodes.select(
        F.col("id").alias("ref"),
        F.round("lon", COORDINATE_PRECISION).alias("x"),
        F.round("lat", COORDINATE_PRECISION).alias("y"),
        "inside",
    )
    lines = (
        ways_kept.select("id", F.posexplode("refs").alias("ref_idx", "ref"))
        .join(points, "ref")
        .groupBy("id")
        .agg(
            # A2 ordered list-aggregation (reference pbf_file_reader.py:
            # 3174-3193): sort_array orders the points by ref_idx
            F.transform(
                F.sort_array(F.collect_list(F.struct("ref_idx", "x", "y"))),
                lambda s: F.struct(s["x"].alias("x"), s["y"].alias("y")),
            ).alias("linestring"),
            F.count(F.lit(1)).alias("matched"),
            F.max("inside").alias("intersects"),
        )
    )
    # read by the way features and by the relation members
    way_lines = persist(
        ways_kept.join(lines, "id")
        .where(F.col("matched") == F.size("refs"))
        .select("id", "filtered", "tags", "raw_tags", "linestring", "intersects")
    )

    # ---- C6: node → Point -----------------------------------------------------
    node_features = nodes.where(
        F.col("filtered") & F.col("inside") & _non_empty("tags")
    ).select(
        F.concat(F.lit("node/"), F.col("id")).alias(FEATURES_INDEX),
        "tags",
        _point_wkb(
            F.round(F.col("lon"), COORDINATE_PRECISION),
            F.round(F.col("lat"), COORDINATE_PRECISION),
        ).alias("geometry"),
    )

    # ---- C7 + C8: way → LineString or Polygon ----------------------------------
    polygon_cfg = opts.osm_way_polygon_features_config or default_polygon_features_config()
    way_features = _ways_to_features(
        way_lines.where(F.col("filtered") & F.col("intersects") & _non_empty("tags")),
        polygon_cfg,
    )

    # ---- C9 (+ C4 for relations): relation assembly over the member join -----
    relation_features = _relations_to_features(
        members.join(
            way_lines.select(F.col("id").alias("ref"), "linestring", "intersects"),
            "ref",
            "left",
        ),
        relations.where(F.col("filtered") & _non_empty("tags")).select("id", "tags"),
    )

    return node_features.unionByName(way_features).unionByName(relation_features)


def _point_wkb(x: Column, y: Column) -> Column:
    """WKB POINT from two double Columns. Spark has no double→IEEE-754-bytes
    builtin, so this is an Arrow-vectorized pandas UDF packing the whole batch
    with one structured-numpy ``tobytes`` (no per-row Python)."""
    return _point_wkb_udf(x, y)


@F.pandas_udf(BinaryType())
def _point_wkb_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    n = len(x)
    out = np.zeros(n, dtype=[("bo", "u1"), ("typ", "<u4"), ("x", "<f8"), ("y", "<f8")])
    out["bo"] = 1
    out["typ"] = 1
    out["x"] = x.to_numpy(dtype=np.float64, na_value=np.nan)
    out["y"] = y.to_numpy(dtype=np.float64, na_value=np.nan)
    raw = out.tobytes()
    stride = out.dtype.itemsize
    return pd.Series([raw[i * stride : (i + 1) * stride] for i in range(n)])


def _polygon_tag_clause(raw_tags: Column, cfg: dict[str, Any]) -> Column:
    """C8 tag-side decision (reference pbf_file_reader.py:3205-3231):
    area=yes OR key∈all OR allowlist value match OR denylist value non-match."""
    clauses: list[Column] = [raw_tags["area"] == "yes"]
    for key in cfg.get("all", []):
        clauses.append(F.map_contains_key(raw_tags, F.lit(key)))
    for key, values in cfg.get("allowlist", {}).items():
        clauses.append(
            F.map_contains_key(raw_tags, F.lit(key)) & raw_tags[key].isin(list(values))
        )
    for key, values in cfg.get("denylist", {}).items():
        clauses.append(
            F.map_contains_key(raw_tags, F.lit(key)) & ~raw_tags[key].isin(list(values))
        )
    out = clauses[0]
    for c in clauses[1:]:
        out = out | c
    return out


_LS_HEADER = b"\x01\x02\x00\x00\x00"  # little-endian LineString
_PG_HEADER = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"  # Polygon, 1 ring


@F.pandas_udf(BinaryType())
def _way_geometry_udf(
    xs: pd.Series, ys: pd.Series, want_polygon: pd.Series
) -> pd.Series:
    """Emit Polygon WKB when the polygon decision holds geometrically
    (closed ∧ ≥4 distinct points — reference pbf_file_reader.py:3240-3256),
    else LineString WKB.

    Batch-packed: the x/y arrays arrive as raw Arrow float64 numpy arrays
    (no per-vertex Python), every batch's coordinates are interleaved into
    ONE contiguous buffer with a single vectorized write, and each row's
    WKB is header + a buffer slice (the `_point_wkb_udf` technique,
    VERDICT r01 hot-path fix — the old body built a Python list per
    vertex and dumped rings through the generic codec).
    """
    import struct as _struct

    from quackosm_spark.geometry.repair import make_valid_ring, needs_ring_repair

    n_rows = len(xs)
    lens = np.fromiter((len(v) for v in xs), dtype=np.int64, count=n_rows)
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    flat = np.empty((total, 2), dtype="<f8")
    for i in range(n_rows):
        flat[offsets[i]:offsets[i + 1], 0] = xs.iloc[i]
        flat[offsets[i]:offsets[i + 1], 1] = ys.iloc[i]
    raw = flat.tobytes()
    wants_np = want_polygon.to_numpy(dtype=bool, na_value=False)

    out: list[bytes] = []
    for i in range(n_rows):
        s, e = int(offsets[i]) * 16, int(offsets[i + 1]) * 16
        k = int(lens[i])
        coords = flat[offsets[i]:offsets[i + 1]]
        closed = k >= 2 and coords[0, 0] == coords[-1, 0] and coords[0, 1] == coords[-1, 1]
        # consecutive-deduped length incl. the closing vertex — identical
        # to len(remove_repeated_points(pts)) in the old per-row body
        distinct = 1 + int((coords[1:] != coords[:-1]).any(axis=1).sum()) if k else 0
        if wants_np[i] and closed and distinct >= 4:
            # valid rings take the exact-parity fast path: no
            # re-orientation, no vertex reordering — ST_MakeValid is the
            # identity on them and the reference preserves the OSM way's
            # vertex order. Only a detected transversal self-intersection
            # (bowtie closed way) OR degenerate linework (zero-width
            # spike, retraced/collinear-overlap edges, pinch point —
            # ADVICE r03) pays the repair, matching reference
            # pbf_file_reader.py:3592-3644 (MakeValid on every write).
            if needs_ring_repair(coords):
                try:
                    polys = make_valid_ring(coords.tolist())
                except Exception:
                    polys = []
                if len(polys) == 1:
                    geom = {"type": "Polygon", "coordinates": polys[0]}
                elif polys:
                    geom = {"type": "MultiPolygon", "coordinates": polys}
                else:
                    geom = {"type": "Polygon", "coordinates": [coords.tolist()]}
                out.append(wkb.dumps(geom))
            else:
                out.append(
                    _PG_HEADER + _struct.pack("<I", k) + raw[s:e]
                )
        else:
            out.append(_LS_HEADER + _struct.pack("<I", k) + raw[s:e])
    return pd.Series(out)


def _ways_to_features(way_lines: DataFrame, polygon_cfg: dict[str, Any]) -> DataFrame:
    tag_ok = (
        F.col("raw_tags").isNotNull()
        & ~(F.col("raw_tags")["area"] == "no").eqNullSafe(F.lit(True))
        & _polygon_tag_clause(F.col("raw_tags"), polygon_cfg)
    )
    return way_lines.select(
        F.concat(F.lit("way/"), F.col("id")).alias(FEATURES_INDEX),
        "tags",
        _way_geometry_udf(
            F.col("linestring.x"), F.col("linestring.y"), tag_ok
        ).alias("geometry"),
    )


_RELATION_GEOM_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("geometry", BinaryType())]
)
_NO_RELATION = pd.DataFrame(
    {"id": pd.Series([], dtype="int64"), "geometry": pd.Series([], dtype=object)}
)


def _assemble_relation(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-relation ring assembly kernel (C9, reference
    pbf_file_reader.py:3284-3590 `_get_filtered_relations_with_geometry` +
    `_save_valid_relation_parts`).

    Steps: role default (NULL→outer; all→outer when no outer present) →
    linemerge member linestrings per role → drop parts with <4 distinct
    points → relation valid iff ALL parts closed → inner/outer polygons →
    holes assigned by containment → union of outer parts.

    Members are merged in ``ref_idx`` order, so a ring's start vertex does not
    depend on the order the rows arrive in.
    """
    pdf = pdf.sort_values("ref_idx", kind="stable")
    rel_id = int(pdf["id"].iloc[0])
    roles = ["outer" if r is None else str(r) for r in pdf["ref_role"]]
    if not any(r == "outer" for r in roles):
        roles = ["outer"] * len(roles)
    lines_by_role: dict[str, list[list[list[float]]]] = {}
    for role, coords in zip(roles, pdf["linestring"]):
        pts = [[float(p["x"]), float(p["y"])] for p in coords]
        lines_by_role.setdefault(role, []).append(pts)

    parts: list[tuple[str, list[list[float]]]] = []
    for role, lines in lines_by_role.items():
        for merged in linemerge(lines):
            if len(remove_repeated_points(merged)) >= 4:
                parts.append((role, merged))
    if not parts:
        return _NO_RELATION
    # relation valid iff every ring (any role) is closed
    if not all(is_closed(ring) for _, ring in parts):
        return _NO_RELATION

    from quackosm_spark.geometry.ops import signed_area
    from quackosm_spark.geometry.repair import (
        make_valid_ring,
        needs_ring_repair,
        overlay_difference,
        rings_cross,
        rings_share_boundary,
        union_all_polygons,
    )

    outers = [remove_repeated_points(r) for role, r in parts if role == "outer"]
    inners = [remove_repeated_points(r) for role, r in parts if role == "inner"]

    # ST_MakeValid parity on RELATION rings (reference wraps every
    # geometry write, pbf_file_reader.py:3592-3644; VERDICT r02 #1): a
    # self-intersecting merged ring is repaired even-odd before assembly.
    # A repaired outer's shells join the outer set and its enclosed even-
    # parity faces become holes; a repaired inner's shells each subtract.
    # Valid rings skip repair entirely (exact-parity fast path).
    def _repair_rings(rings: list) -> tuple[list, list]:
        fixed: list = []
        extra_holes: list = []
        for r in rings:
            if needs_ring_repair(r):
                try:
                    polys = make_valid_ring(r)
                except Exception:
                    polys = []
                if polys:
                    for p in polys:
                        fixed.append([list(pt) for pt in p[0]])
                        extra_holes.extend(
                            [list(pt) for pt in h] for h in p[1:]
                        )
                    continue
            fixed.append(r)
        return fixed, extra_holes

    outers, outer_repair_holes = _repair_rings(outers)
    inners, _ = _repair_rings(inners)  # an inner's even-parity faces
    # would be holes-of-holes (islands) — beyond multipolygon semantics,
    # dropped like the reference's difference with an invalid inner
    inners = inners + outer_repair_holes

    # degenerate (zero-area / collinear) closed parts cannot polygonize:
    # GEOS's union collapses them to linework, so when they mix with real
    # polygon parts the reference's ST_Union_Agg yields a
    # GeometryCollection (SURVEY §1.3 "relations after union"). Split
    # them out; degenerate inners subtract nothing and are dropped.
    degenerate_lines = [r for r in outers if abs(signed_area(r)) <= 1e-14]
    outers = [r for r in outers if abs(signed_area(r)) > 1e-14]
    inners = [r for r in inners if abs(signed_area(r)) > 1e-14]
    if not outers and degenerate_lines:
        # ONLY degenerate parts: GEOS unions a lone zero-area polygon to
        # itself, so keep the historical zero-area Polygon output rather
        # than inventing a collection the reference would not emit
        outers, degenerate_lines = degenerate_lines, []

    # ST_Union_Agg parity for messy relations (reference
    # pbf_file_reader.py:3377-3397): outer parts that CROSS each other
    # merge into one shell; a union-enclosed bounded complement region
    # (two crossing C-shapes) becomes a HOLE of the merged shell, not a
    # phantom extra shell (ADVICE r02). Disjoint/nested outers keep their
    # original vertex order (exact-parity fast path — union would
    # re-orient).
    if len(outers) > 1 and any(
        rings_cross(outers[i], outers[j])
        or rings_share_boundary(outers[i], outers[j])
        for i in range(len(outers))
        for j in range(i + 1, len(outers))
    ):
        try:
            merged_polys = union_all_polygons(outers)
            outers = [[list(pt) for pt in p[0]] for p in merged_polys]
            inners = inners + [
                [list(pt) for pt in h] for p in merged_polys for h in p[1:]
            ]
        except Exception:
            pass

    # reclose after dedup (remove_repeated_points keeps first==last intact)
    polygons: list[list[list[list[float]]]] = []
    used_inner = [False] * len(inners)
    for outer in outers:
        holes = []
        straddlers = []
        for i, inner in enumerate(inners):
            if used_inner[i]:
                continue
            if ring_within_ring(inner, outer) and not rings_share_boundary(
                inner, outer
            ):
                # fully-contained inner nests as an interior ring —
                # identical to the reference's outer ST_Difference
                # union(inners within) for disjoint inners. (Point
                # touches on the boundary stay holes, like GEOS; an
                # EDGE-run contact instead routes through the overlay
                # difference below, which folds the bite into the
                # boundary the way GEOS's difference does.)
                holes.append(inner)
                used_inner[i] = True
            elif rings_cross(inner, outer) or rings_share_boundary(
                inner, outer
            ):
                # inner straddling the outer boundary (transversally OR
                # along a shared edge run): only the covered part may be
                # removed — ST_Difference parity (reference
                # pbf_file_reader.py:3332-3343)
                straddlers.append(inner)
                used_inner[i] = True
        shells = [outer]
        for inner in straddlers:
            try:
                next_shells: list[list[list[float]]] = []
                for sh in shells:
                    # planar overlay, GEOS ST_Difference parity for
                    # crossing and shared-edge contact alike
                    for p2 in overlay_difference(sh, inner):
                        next_shells.append([list(pt) for pt in p2[0]])
                        holes.extend([list(pt) for pt in h] for h in p2[1:])
                shells = [list(r) for r in next_shells] or shells
            except Exception:
                pass
        # reference ST_Difference subtracts ST_Union_Agg(inners): inner
        # rings that OVERLAP each other merge into one hole (attaching
        # both individually would double-subtract); an island enclosed by
        # the union of inners (two crossing C-shaped inners) comes back
        # as its own polygon part, exactly what outer − union(inners)
        # leaves. Disjoint inners keep their original vertex order.
        island_parts: list[list[list[float]]] = []
        if len(holes) > 1 and any(
            rings_cross(holes[i], holes[j])
            or rings_share_boundary(holes[i], holes[j])
            for i in range(len(holes))
            for j in range(i + 1, len(holes))
        ):
            try:
                merged_holes = union_all_polygons(
                    [[list(pt) for pt in h] for h in holes]
                )
                holes = [[list(pt) for pt in p[0]] for p in merged_holes]
                island_parts = [
                    [list(pt) for pt in h]
                    for p in merged_holes
                    for h in p[1:]
                ]
            except Exception:
                pass
        if len(shells) == 1:
            polygons.append([shells[0], *holes])
        else:
            # the difference split the outer: holes re-nest into the
            # piece that contains them
            for sh in shells:
                own = [h for h in holes if ring_within_ring(h, sh)]
                polygons.append([sh, *own])
        polygons.extend([island] for island in island_parts)
    if not polygons:
        return _NO_RELATION
    if len(polygons) == 1:
        geom = {"type": "Polygon", "coordinates": polygons[0]}
    else:
        geom = {"type": "MultiPolygon", "coordinates": polygons}
    if degenerate_lines:
        # mixed polygonal + collapsed-to-linework parts: the reference's
        # ST_Union_Agg returns a GeometryCollection here (SURVEY §1.3)
        geom = {
            "type": "GeometryCollection",
            "geometries": [geom]
            + [
                {"type": "LineString", "coordinates": r}
                for r in degenerate_lines
            ],
        }
    return pd.DataFrame({"id": [rel_id], "geometry": [wkb.dumps(geom)]})


def _assemble_resolved_relation(pdf: pd.DataFrame) -> pd.DataFrame:
    """C9 over the member join. A relation is dropped when a way member did
    not resolve to a valid way (a null linestring: the way is missing, has
    fewer than two refs or a ref without a node, reference
    pbf_file_reader.py:2455-2481), or when no way member intersects the
    geometry filter."""
    if pdf["linestring"].isna().any() or not pdf["intersects"].any():
        return _NO_RELATION
    return _assemble_relation(pdf)


def _relations_to_features(members: DataFrame, relations_tags: DataFrame) -> DataFrame:
    geoms = members.select(
        "id", "ref_role", "ref_idx", "linestring", "intersects"
    ).groupBy("id").applyInPandas(
        _assemble_resolved_relation, schema=_RELATION_GEOM_SCHEMA
    )
    return geoms.join(relations_tags, "id").select(
        F.concat(F.lit("relation/"), F.col("id")).alias(FEATURES_INDEX),
        "tags",
        "geometry",
    )
