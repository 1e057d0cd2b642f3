"""Spatial operators: geometry scalar transforms + spatial joins.

Re-expresses the reference's PostGIS-backed nodes (SURVEY.md §2.4, §2.6)
as DataFrame plans over WKB columns + the ``geo.kernels`` pandas UDFs.

Scale design: the Python kernel is only invoked on candidate pairs.
The spatial joins prefilter JVM-side by one of two plans, chosen by
their ``cell`` argument: ``cell=None`` broadcasts the dimension-sized
layer; a positive ``cell`` runs the grid-cell equi-join for big-big
inputs. The kernel then does exact geometry per Arrow batch. This
mirrors how PostGIS uses a GiST index scan before exact DE-9IM tests.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from terra_bonobo_nodes_spark.geo import kernels as K

IDENTIFIER = "identifier"


# --- G1/G2: parse geometry from attributes ----------------------------------


def attribute_to_geometry(
    df: DataFrame, attr: str, geom_col: str = "geom", drop: bool = False
) -> DataFrame:
    """``AttributeToGeometry`` (``common.py:286-312``): parse GeoJSON or
    WKT from a string column; polygons auto-repaired (make_valid ~=
    buffer(0)), lines simplify(0) — applied inside the GeoJSON kernel.
    """
    out = df.withColumn(geom_col, K.st_geomfromany(F.col(attr)))
    return out.drop(attr) if drop else out


def attributes_to_point_geometry(
    df: DataFrame,
    x: str = "x",
    y: str = "y",
    geom_col: str = "geom",
    strict: bool = True,
    drop: bool = True,
) -> DataFrame:
    """``AttributesToPointGeometry`` (``common.py:315-342``): build a
    point from string x/y attributes. ``strict=True`` uses the ANSI cast,
    which raises on uncastable input — the reference's ValueError
    contract (``common.py:338-341``); ``strict=False`` uses ``try_cast``
    and yields POINT EMPTY instead.
    """
    if strict:
        xd, yd = F.col(x).cast("double"), F.col(y).cast("double")
    else:
        xd, yd = F.col(x).try_cast("double"), F.col(y).try_cast("double")
    out = df.withColumn(geom_col, K.st_point(xd, yd))
    return out.drop(x, y) if drop else out


# --- G3-G7: scalar geometry transforms --------------------------------------


def geometry_to_json(
    df: DataFrame, geom_col: str = "geom", out: str = "geojson", tolerance: float = 0.0
) -> DataFrame:
    """``GeometryToJson`` (``common.py:345-366``): simplify then GeoJSON."""
    return df.withColumn(out, K.st_asgeojson(K.st_simplify(F.col(geom_col), tolerance)))


def geometry_to_centroid(
    df: DataFrame, geom_col: str = "geom", out: str = "centroid"
) -> DataFrame:
    """``GeometryToCentroid`` (``common.py:369-386``)."""
    return df.withColumn(out, K.st_centroid(F.col(geom_col)))


def geometry_3d_to_2d(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """``Geometry3Dto2D`` (``common.py:389-408``)."""
    return df.withColumn(geom_col, K.st_force2d(F.col(geom_col)))


def simplify_geom(
    df: DataFrame,
    tolerance: float,
    geom_in: str = "geom",
    geom_out: str | None = None,
) -> DataFrame:
    """``SimplifyGeom`` (``terra.py:450-471``): configurable in/out cols."""
    return df.withColumn(geom_out or geom_in, K.st_simplify(F.col(geom_in), tolerance))


def transform_geom(
    df: DataFrame,
    src: str,
    dst: str,
    geom_in: str = "geom",
    geom_out: str | None = None,
) -> DataFrame:
    """``TransformGeom`` (``terra.py:474-494``): CRS reprojection."""
    return df.withColumn(geom_out or geom_in, K.st_transform(F.col(geom_in), src, dst))


# --- G8: subdivide + explode -------------------------------------------------


def subdivide_geom(
    df: DataFrame,
    max_vertices: int = 256,
    geom_col: str = "geom",
    identifier_col: str = IDENTIFIER,
) -> DataFrame:
    """``SubdivideGeom`` (``terra.py:71-104``): explode one row into N
    parts with child ids ``{id}-{pos}`` (``terra.py:99-104``). Geometry
    is make_valid'd first (the reference's ``ST_Buffer(geom, 0)``,
    ``terra.py:95-97``)."""
    parts = K.st_subdivide(K.st_makevalid(F.col(geom_col)), max_vertices)
    exploded = df.select(
        *[c for c in df.columns if c != geom_col],
        F.posexplode(parts).alias("_pos", geom_col),
    )
    return exploded.withColumn(
        identifier_col, F.concat_ws("-", F.col(identifier_col), F.col("_pos"))
    ).drop("_pos")


# --- A2/A4: geometric aggregation -------------------------------------------


def union_on_property(
    df: DataFrame, prop: str, geom_col: str = "geom", dissolve: bool = False
) -> DataFrame:
    """``UnionOnProperty`` (``common.py:535-564``): group-by + geometric
    union aggregate. The hand-rolled ValueHolder accumulation becomes
    one hash aggregate. ``dissolve=False`` collects (area-equivalent
    for disjoint inputs); ``dissolve=True`` runs the TRUE cascaded
    union (overlaps counted once — the reference's ``|=`` semantics for
    overlapping geometries)."""
    agg = K.st_union_agg if dissolve else K.st_collect_agg
    return df.groupBy(F.col(prop)).agg(agg(F.col(geom_col)).alias(geom_col))


def layer_clusters_geo(
    df: DataFrame,
    distance: float,
    geom_col: str = "geom",
    id_col: str = IDENTIFIER,
    crs: tuple[str, str] | None = None,
) -> DataFrame:
    """``LayerClusters`` (``terra.py:27-68``) on real geometry: snap
    each geometry's origin to a grid, group by the snapped WKT key,
    collect member ids. ``crs=(src, dst)`` reproduces the reference's
    ``ST_Transform`` before snapping (``terra.py:56``)."""
    g = F.col(geom_col)
    if crs:
        g = K.st_transform(g, crs[0], crs[1])
    cell = K.st_astext(K.st_snaptogrid(K.st_centroid(g), distance))
    return (
        df.withColumn("cluster", cell)
        .groupBy("cluster")
        .agg(
            F.sort_array(F.collect_set(F.col(id_col))).alias("ids"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- J1-J3: spatial joins ----------------------------------------------------


def _bbox_overlap(a: str, b: str) -> Column:
    """JVM-evaluated envelope-overlap predicate over st_bbox arrays —
    the GiST-index-scan analogue: the cross join's pairs are culled in
    whole-stage codegen and only envelope-overlapping candidates reach
    the Python geometry kernel. Null bboxes (empty/bad geometry) fail
    the predicate, matching intersects()=False for empties.

    The args are SQL references ("_rx.bbox") and parse as ONE
    expression — op-by-op Column building pays a py4j round-trip per
    operator (~0.3-5 ms each), and the spatial joins build this
    predicate several times per operator call."""
    return F.expr(
        f"element_at({a}, 1) <= element_at({b}, 3) AND "
        f"element_at({b}, 1) <= element_at({a}, 3) AND "
        f"element_at({a}, 2) <= element_at({b}, 4) AND "
        f"element_at({b}, 2) <= element_at({a}, 4)"
    )


_LIVE_CACHES: list[DataFrame] = []

# How many spatial-join caches (record and layer sides) may be live at
# once. >1 so a MULTI-LEG query, whose operator calls all execute inside
# ONE final plan, keeps every leg's prep cached; evicting on the next
# call would make the earlier legs re-run their geometry-kernel prep
# once per branch. Only intersection_percent_by_area persists, and its
# widest registered user is the overlay surface (j2_overlay: 3 record
# + 3 layer caches), so 12 keeps every live cache resident while
# staying a hard bound: a long-lived session holds at most the last few
# sides, each a narrow (id, struct) frame.
_MAX_LIVE_CACHES = 12


def _scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the fast/slow branch reuse below, releasing
    the OLDEST caches once more than ``_MAX_LIVE_CACHES`` spatial-join
    invocations are live (ADVICE r01: bounded, not accumulating).
    Unpersisting a plan that was never materialized is a no-op, so
    early release only costs a recompute, never correctness."""
    while len(_LIVE_CACHES) >= _MAX_LIVE_CACHES:
        old = _LIVE_CACHES.pop(0)
        try:
            old.unpersist(False)
        except Exception:
            pass
    _LIVE_CACHES.append(df.persist())
    return df


def release_spatial_caches() -> None:
    """Explicitly release the record-side caches held by the spatial
    joins (call after the final action of a pipeline)."""
    for old in _LIVE_CACHES:
        try:
            old.unpersist(False)
        except Exception:
            pass
    _LIVE_CACHES.clear()


def _candidates(rec: DataFrame, lay: DataFrame, cell: float | None) -> DataFrame:
    """Candidate pairs of the prepared sides (``_rx`` on ``rec``, ``_lx``
    on ``lay``) whose envelopes overlap. ``cell`` picks the plan:

    - ``None``: broadcast the (dimension-sized) layer, cull with the
      bbox predicate inside whole-stage codegen. The right plan
      whenever the layer fits an executor.
    - a finite ``cell > 0``: the big-big grid plan (PostGIS GiST parity
      at any layer size, ``terra.py:235``). Both sides explode their
      envelope into the ``cell``-sized grid cells it covers, equi-join
      on the cell key (a plain shuffle hash join — no broadcast, no
      nested-loop), then exact-filter envelope overlap. A pair sharing
      several cells is deduplicated for free by keeping it only in its
      *reporting cell* — the cell containing the min corner of the two
      envelopes' intersection — instead of a distinct. ``cell`` should
      be on the order of a typical feature envelope: too small explodes
      replication, too large degrades to few fat partitions (AQE evens
      out the tail).

    Any other ``cell`` (zero, negative, NaN, infinite) raises ValueError.
    """
    rec_bbox, lay_bbox = "_rx.bbox", "_lx.bbox"
    if cell is None:
        return rec.join(F.broadcast(lay), _bbox_overlap(rec_bbox, lay_bbox))
    if not (math.isfinite(cell) and cell > 0):
        raise ValueError(f"cell must be a finite number > 0, got {cell!r}")
    c = float(cell)

    # parsed SQL text throughout (the _bbox_overlap rationale): the
    # grid expressions below are built once per operator call and the
    # op-by-op form cost ~0.2s of py4j latency each
    def tiled(df: DataFrame, bbox: str) -> DataFrame:
        gx = (
            f"explode(sequence(cast(floor(element_at({bbox}, 1) / {c!r}D) as long), "
            f"cast(floor(element_at({bbox}, 3) / {c!r}D) as long)))"
        )
        gy = (
            f"explode(sequence(cast(floor(element_at({bbox}, 2) / {c!r}D) as long), "
            f"cast(floor(element_at({bbox}, 4) / {c!r}D) as long)))"
        )
        return (
            df.filter(F.expr(f"{bbox} IS NOT NULL"))
            .withColumn("_gx", F.expr(gx))
            .withColumn("_gy", F.expr(gy))
        )

    joined = tiled(rec, rec_bbox).join(tiled(lay, lay_bbox), on=["_gx", "_gy"])
    rep = F.expr(
        f"_gx = cast(floor(greatest(element_at({rec_bbox}, 1), "
        f"element_at({lay_bbox}, 1)) / {c!r}D) as long) AND "
        f"_gy = cast(floor(greatest(element_at({rec_bbox}, 2), "
        f"element_at({lay_bbox}, 2)) / {c!r}D) as long)"
    )
    return (
        joined.filter(_bbox_overlap(rec_bbox, lay_bbox))
        .filter(rep)
        .drop("_gx", "_gy")
    )


def _prepared(
    df: DataFrame, name: str, alias: str, default: Callable[[Column], Column]
) -> Column:
    """One side's prep under the prepared-geometry contract, aliased to
    ``alias`` — a struct with at least ``geom`` (the exact kernels'
    input) and ``bbox`` fields. ``name`` must be a WKB (binary) column,
    prepared here by ``default``, or a :data:`K.PREPARED_T` column
    (nullability ignored), used as-is; anything else raises."""
    try:
        dt = df.schema[name].dataType
    except KeyError:
        dt = None
    if isinstance(dt, BinaryType):
        return default(F.col(name)).alias(alias)
    if dt is not None and dt.simpleString() == K.PREPARED_T.simpleString():
        # parsed SQL text (the _bbox_overlap rationale)
        return F.expr(f"`{name.replace('`', '``')}` AS {alias}")
    got = "no such column" if dt is None else dt.simpleString()
    raise ValueError(
        f"spatial join geometry column {name!r} must be binary (WKB) or "
        f"{K.PREPARED_T.simpleString()}; got {got}"
    )


def _with_geom(prep: Callable[[Column], Column]) -> Callable[[Column], Column]:
    """A default prep for metadata-only kernels: the WKB column rides
    inside the struct as its ``geom`` field."""
    return lambda g: prep(g).withField("geom", g)


def boolean_intersect(
    records: DataFrame,
    layer: DataFrame,
    out: str,
    record_geom: str = "geom",
    layer_geom: str = "layer_geom",
    id_col: str = IDENTIFIER,
    cell: float | None = None,
) -> DataFrame:
    """``BooleanIntersect`` (``terra.py:214-242``): existential spatial
    semi-join -> boolean flag. Kernel errors yield False, matching the
    reference's swallow-and-log contract (``terra.py:238-240``; encoded
    in the ``st_intersects`` kernel).

    ``record_geom`` and ``layer_geom`` each name a WKB (binary) column
    or a prepared column of type ``K.PREPARED_T``
    (``struct<geom:binary,bbox:array<double>,boxy:boolean,area:double>``,
    what ``st_prepare`` and ``st_poly_prep`` return). A prepared column
    is used as-is, its ``geom`` field feeding the exact kernel; a WKB
    column is prepared here by ``st_bbox_boxy``. Any other type raises
    ValueError.

    Plan: ONE candidate join from the bbox predicate (``cell=None``:
    broadcast the dimension-sized layer; a positive ``cell``: the
    big-big grid equi-join, for a layer too large to broadcast — see
    ``_candidates``) keeps a pair when both sides are boxy (points,
    grid tiles — see ``st_bbox_boxy``), where the bbox overlap IS the
    exact answer, or when the Python intersects kernel says so. Neither
    side is persisted: each is read once. Rows with no layer match keep
    flag=False via left join + coalesce."""
    prep = _with_geom(K.st_bbox_boxy)
    rec = records.select(id_col, _prepared(records, record_geom, "_rx", prep))
    lay = layer.select(_prepared(layer, layer_geom, "_lx", prep))
    both_boxy = "_rx.boxy AND _lx.boxy"
    # NULL-mask the kernel args on the boxy pairs: Catalyst extracts the
    # pandas UDF out of the Filter into an ArrowEvalPython node that
    # runs on EVERY candidate row, so without the mask each boxy pair
    # ships its WKB to Python for an answer the bbox join already gave.
    # Masked args make those rows a NULL-in/False-out no-op in the
    # kernel (no parse, no bytes); the OR keeps them on both_boxy.
    # Parsed SQL text (the _bbox_overlap rationale).
    hit = F.expr(both_boxy) | K.st_intersects(
        F.expr(f"CASE WHEN NOT ({both_boxy}) THEN _rx.geom END"),
        F.expr(f"CASE WHEN NOT ({both_boxy}) THEN _lx.geom END"),
    )
    flag = f"`{out.replace('`', '``')}`"
    hits = (
        _candidates(rec, lay, cell)
        .filter(hit)
        .groupBy(id_col)
        .agg(F.expr(f"true AS {flag}"))
    )
    return records.join(hits, on=id_col, how="left").withColumn(
        out, F.expr(f"coalesce({flag}, false)")
    )


def intersection_percent_by_area(
    records: DataFrame,
    layer: DataFrame,
    out: str = "intersection_percent",
    record_geom: str = "geom",
    layer_geom: str = "layer_geom",
    id_col: str = IDENTIFIER,
    dissolve: bool = False,
    cell: float | None = None,
) -> DataFrame:
    """``IntersectionPercentByArea`` (``terra.py:245-279``): area of the
    record's geometry covered by the layer, as a ratio; 0.0 when no
    overlap (``terra.py:272-274``). The default sums pairwise
    intersection areas — exact when layer features are DISJOINT (grid
    tiles, the reference's workload). ``dissolve=True`` unions the
    clipped zones per record before measuring (exact for overlapping
    layers).

    ``record_geom`` and ``layer_geom`` each name a WKB (binary) column
    or a prepared column of type ``K.PREPARED_T``
    (``struct<geom:binary,bbox:array<double>,boxy:boolean,area:double>``,
    what ``st_prepare`` and ``st_poly_prep`` return). A prepared column
    is used as-is, its ``geom`` field feeding the exact kernels; a WKB
    column is prepared here by ``st_prepare`` (records) or
    ``st_bbox_boxy`` (layer). Any other type raises ValueError.

    ``cell`` picks the candidate-pair plan as in ``boolean_intersect``:
    ``None`` broadcasts the layer, a positive cell size runs the grid
    equi-join.

    When the record is boxy and EVERY layer feature is boxy (one
    lazily-computed 1-row broadcast scalar), the dissolve zones are
    bbox-intersection rects built in whole-stage codegen and the
    per-record union area is a rectangle sweep over 4 doubles — no WKB
    crosses into Python for those records; any curvy layer feature
    routes every record through the geometry-kernel path (coarse
    routing, but then the check costs nothing and the two union paths
    never mix for one record)."""
    # ONE fused kernel pass prepares a WKB record side: make_valid
    # (idempotent, so the reference's per-pair repair collapses to
    # per-row), bbox, boxy flag, and the area denominator. Both sides
    # are persisted (scoped) because the fast and slow branches — and
    # the dissolve routing scalar — each scan them.
    rec = _scoped_persist(
        records.select(id_col, _prepared(records, record_geom, "_rx", K.st_prepare))
    )
    lay = _scoped_persist(
        layer.select(
            _prepared(layer, layer_geom, "_lx", _with_geom(K.st_bbox_boxy))
        )
    )
    if dissolve:
        # Routing scalar: 1 iff EVERY layer feature is boxy (its own
        # bbox rect) — a lazily-computed 1-row broadcast, the
        # corpus-stats-scalar pattern. The record SIDE splits before
        # pair generation: per-record _rx.boxy AND the scalar pick the
        # path, so no id ever lands in both unions — and the split
        # must happen pre-join because a post-join filter would still
        # feed every pair through the extracted st_intersects
        # ArrowEvalPython node (UDFs inside a Filter evaluate on all
        # input rows; measured 16s on 550k pruned-to-zero pairs).
        lab = lay.agg(F.min(F.col("_lx.boxy").cast("int")).alias("_lab"))
        fastp = F.col("_rx.boxy") & F.coalesce(F.col("_lab") == 1, F.lit(False))
        rec_flag = rec.crossJoin(F.broadcast(lab))
        rec_fast = rec_flag.filter(fastp).drop("_lab")
        rec_slow = rec_flag.filter(~fastp).drop("_lab")
        # parsed SQL text (the _bbox_overlap rationale): these four
        # corners are re-referenced by the filter and the select below
        zx0 = F.expr(
            "greatest(element_at(_rx.bbox, 1), element_at(_lx.bbox, 1))"
        )
        zy0 = F.expr(
            "greatest(element_at(_rx.bbox, 2), element_at(_lx.bbox, 2))"
        )
        zx1 = F.expr(
            "least(element_at(_rx.bbox, 3), element_at(_lx.bbox, 3))"
        )
        zy1 = F.expr(
            "least(element_at(_rx.bbox, 4), element_at(_lx.bbox, 4))"
        )
        # boxy x all-boxy: zone rect in codegen, union area by sweep —
        # no WKB reaches Python on this path
        fast_zones = (
            _candidates(rec_fast, lay, cell)
            .filter((zx1 > zx0) & (zy1 > zy0))
            .select(
                id_col,
                zx0.alias("_zx0"),
                zy0.alias("_zy0"),
                zx1.alias("_zx1"),
                zy1.alias("_zy1"),
            )
            .groupBy(id_col)
            # JVM collect_list + ONE scalar kernel call per Arrow batch,
            # not a GROUPED_AGG (one Python invocation PER GROUP): same
            # sweep over the same multiset (the kernel sorts
            # internally, so list order is irrelevant), but the
            # per-group Arrow round-trips collapse into a few batched
            # ones. collect_list partially aggregates map-side, so the
            # exchange carries the same 4 doubles per pair either way.
            .agg(
                F.collect_list("_zx0").alias("_lx0"),
                F.collect_list("_zy0").alias("_ly0"),
                F.collect_list("_zx1").alias("_lx1"),
                F.collect_list("_zy1").alias("_ly1"),
            )
            .select(
                id_col,
                K.st_rect_union_area_lists(
                    F.col("_lx0"), F.col("_ly0"), F.col("_lx1"), F.col("_ly1")
                ).alias("_zone_area"),
            )
        )
        # general path (a GROUPED_AGG pandas UDF can't mix with JVM
        # aggregates in one agg — the constant-per-id denominator
        # joins back from rec below)
        slow_zones = (
            _candidates(rec_slow, lay, cell)
            .filter(K.st_intersects(F.col("_rx.geom"), F.col("_lx.geom")))
            .withColumn(
                "_zone", K.st_intersection(F.col("_rx.geom"), F.col("_lx.geom"))
            )
            .groupBy(id_col)
            .agg(K.st_union_area_agg(F.col("_zone")).alias("_zone_area"))
        )
        zones = fast_zones.unionByName(slow_zones).join(
            rec.select(id_col, F.col("_rx.area").alias("_ra")), on=id_col
        )
        joined = records.join(zones, on=id_col, how="left")
        ratio = F.coalesce(F.col("_zone_area") / F.col("_ra"), F.lit(0.0))
        return joined.withColumn(out, ratio).drop("_zone_area", "_ra")
    cand = _candidates(rec, lay, cell)
    both_boxy = F.col("_rx.boxy") & F.col("_lx.boxy")
    # boxy×boxy overlap area is closed-form over the bboxes — evaluated
    # in whole-stage codegen, no Python; only curvy pairs hit the fused
    # intersection-area kernel (no exact intersects prefilter there:
    # empty intersections add 0 to the sum). One parsed expression (the
    # _bbox_overlap rationale); w/h re-state inline exactly as the
    # Column form duplicated their subtrees into the when().
    _w = (
        "(least(element_at(_rx.bbox, 3), element_at(_lx.bbox, 3)) - "
        "greatest(element_at(_rx.bbox, 1), element_at(_lx.bbox, 1)))"
    )
    _h = (
        "(least(element_at(_rx.bbox, 4), element_at(_lx.bbox, 4)) - "
        "greatest(element_at(_rx.bbox, 2), element_at(_lx.bbox, 2)))"
    )
    rect_area = F.expr(
        f"CASE WHEN {_w} > 0 AND {_h} > 0 THEN {_w} * {_h} ELSE 0.0D END"
    )
    fast = cand.filter(both_boxy).select(
        id_col, rect_area.alias("_ia"), F.col("_rx.area").alias("_ra")
    )
    slow = cand.filter(~both_boxy).select(
        id_col,
        K.st_intersection_area(F.col("_rx.geom"), F.col("_lx.geom")).alias("_ia"),
        F.col("_rx.area").alias("_ra"),
    )
    # the area denominator rides through the aggregate (constant per
    # id), so no extra kernel pass over the records after the join
    per_pair = (
        fast.unionByName(slow)
        .groupBy(id_col)
        .agg(F.sum("_ia").alias("_zone_area"), F.max("_ra").alias("_ra"))
    )
    joined = records.join(per_pair, on=id_col, how="left")
    ratio = F.coalesce(F.col("_zone_area") / F.col("_ra"), F.lit(0.0))
    return joined.withColumn(out, ratio).drop("_zone_area", "_ra")


def intersection_geom(
    records: DataFrame,
    layer: DataFrame,
    record_geom: str = "geom",
    layer_geom: str = "layer_geom",
    geom_dest: str | None = None,
    id_col: str = IDENTIFIER,
    dissolve: bool = False,
    cell: float | None = None,
) -> DataFrame:
    """``IntersectionGeom`` (``terra.py:523-557``): clip the record's
    geometry to the layer — the unioned intersection replaces the
    geometry. Records with no overlap get POINT EMPTY (kernel
    convention for empty results). The default collect aggregation is
    the reference's ``|=`` union when layer features are disjoint (grid
    tiles); pass ``dissolve=True`` for an OVERLAPPING layer so shared
    regions are not double-counted downstream.

    ``record_geom`` and ``layer_geom`` each name a WKB (binary) column
    or a prepared column of type ``K.PREPARED_T``
    (``struct<geom:binary,bbox:array<double>,boxy:boolean,area:double>``,
    what ``st_prepare`` and ``st_poly_prep`` return). A prepared column
    is used as-is, its ``geom`` field feeding the exact kernels; a WKB
    column is prepared here by ``st_prepare`` (records) or ``st_bbox``
    (layer). Any other type raises ValueError.

    ``cell`` picks the candidate-pair plan as in ``boolean_intersect``:
    ``None`` broadcasts the layer, a positive cell size runs the grid
    equi-join."""
    agg = K.st_union_agg if dissolve else K.st_collect_agg
    rec = records.select(id_col, _prepared(records, record_geom, "_rx", K.st_prepare))
    lay = layer.select(
        _prepared(
            layer,
            layer_geom,
            "_lx",
            lambda g: F.struct(g.alias("geom"), K.st_bbox(g).alias("bbox")),
        )
    )
    zones = (
        _candidates(rec, lay, cell)
        .filter(K.st_intersects(F.col("_rx.geom"), F.col("_lx.geom")))
        .withColumn("_zone", K.st_intersection(F.col("_rx.geom"), F.col("_lx.geom")))
        .groupBy(id_col)
        .agg(agg(F.col("_zone")).alias("_zone"))
    )
    dest = geom_dest or record_geom
    return records.join(zones, on=id_col, how="left").withColumn(
        dest, F.col("_zone")
    ).drop("_zone")


# --- T1: geometric running difference ---------------------------------------


def isochrone_subtraction(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    geom_col: str = "geom",
) -> DataFrame:
    """``IsochroneSubstraction`` (``common.py:519-532``): each geometry
    minus its predecessor in an explicit ordering (the reference relies
    on arrival order; Spark makes the ordering a declared column —
    SURVEY.md §7 hard-part 3). First row subtracts nothing (POINT EMPTY
    seed)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    prev = F.lag(F.col(geom_col), 1).over(w)
    return df.withColumn(
        geom_col,
        F.when(prev.isNull(), F.col(geom_col)).otherwise(
            K.st_difference(F.col(geom_col), prev)
        ),
    )
