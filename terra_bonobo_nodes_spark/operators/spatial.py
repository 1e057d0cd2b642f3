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
from terra_bonobo_nodes_spark.sqltext import ident

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


def _bbox_overlap_sql(a: str, b: str) -> str:
    """JVM-evaluated envelope-overlap predicate over st_bbox arrays —
    the GiST-index-scan analogue: the cross join's pairs are culled in
    whole-stage codegen and only envelope-overlapping candidates reach
    the Python geometry kernel. Null bboxes (empty/bad geometry) fail
    the predicate, matching intersects()=False for empties.

    The args are SQL references ("_rx.bbox"), and the predicate is SQL
    text that parses as ONE expression: op-by-op Column building pays
    about 12 py4j round trips per operator, ``F.expr`` about 3."""
    return (
        f"element_at({a}, 1) <= element_at({b}, 3) AND "
        f"element_at({b}, 1) <= element_at({a}, 3) AND "
        f"element_at({a}, 2) <= element_at({b}, 4) AND "
        f"element_at({b}, 2) <= element_at({a}, 4)"
    )


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
    The grid plan's pairs also carry its working columns ``_gx`` and
    ``_gy``; every caller projects its own columns from the pairs.
    """
    rec_bbox, lay_bbox = "_rx.bbox", "_lx.bbox"
    if cell is None:
        return rec.join(F.broadcast(lay), F.expr(_bbox_overlap_sql(rec_bbox, lay_bbox)))
    if not (math.isfinite(cell) and cell > 0):
        raise ValueError(f"cell must be a finite number > 0, got {cell!r}")
    c = float(cell)

    # parsed SQL text throughout (the _bbox_overlap_sql rationale)
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
            df.filter(f"{bbox} IS NOT NULL")
            .withColumn("_gx", F.expr(gx))
            .withColumn("_gy", F.expr(gy))
        )

    joined = tiled(rec, rec_bbox).join(tiled(lay, lay_bbox), on=["_gx", "_gy"])
    # one filter, and the grid columns left for the callers' own
    # projections to prune: every transform is one more analysis of the
    # whole plan, and the optimized plan is the same without them
    return joined.filter(
        f"_gx = cast(floor(greatest(element_at({rec_bbox}, 1), "
        f"element_at({lay_bbox}, 1)) / {c!r}D) as long) AND "
        f"_gy = cast(floor(greatest(element_at({rec_bbox}, 2), "
        f"element_at({lay_bbox}, 2)) / {c!r}D) as long) AND "
        + _bbox_overlap_sql(rec_bbox, lay_bbox)
    )


def _prepared(
    df: DataFrame,
    name: str,
    alias: str,
    default: Callable[[Column], Column],
    *keep: str,
) -> DataFrame:
    """``df``'s ``keep`` columns and one side's prep under the
    prepared-geometry contract, aliased to ``alias`` — a struct with at
    least ``geom`` (the exact kernels' input) and ``bbox`` fields.
    ``name`` must be a WKB (binary) column, prepared here by
    ``default``, or a :data:`K.PREPARED_T` column (nullability
    ignored), used as-is; anything else raises. One projection, in
    parsed SQL text (the ``_bbox_overlap_sql`` rationale) except for
    the Python kernel's call."""
    try:
        dt = df.schema[name].dataType
    except KeyError:
        dt = None
    kept = [ident(k) for k in keep]
    if isinstance(dt, BinaryType):
        prep = default(F.expr(ident(name))).alias(alias)
        return df.select(*map(F.expr, kept), prep)
    if dt is not None and dt.simpleString() == K.PREPARED_T.simpleString():
        return df.selectExpr(*kept, f"{ident(name)} AS {alias}")
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
    exact answer, or when the Python intersects kernel says so. Each
    side is read once, with no cache. Rows with no layer match keep
    flag=False via left join + coalesce."""
    prep = _with_geom(K.st_bbox_boxy)
    rec = _prepared(records, record_geom, "_rx", prep, id_col)
    lay = _prepared(layer, layer_geom, "_lx", prep)
    both_boxy = "_rx.boxy AND _lx.boxy"
    # NULL-mask the kernel args on the boxy pairs: Catalyst extracts the
    # pandas UDF out of the Filter into an ArrowEvalPython node that
    # runs on EVERY candidate row, so without the mask each boxy pair
    # ships its WKB to Python for an answer the bbox join already gave.
    # Masked args make those rows a NULL-in/False-out no-op in the
    # kernel (no parse, no bytes); the OR keeps them on both_boxy.
    # Parsed SQL text (the _bbox_overlap_sql rationale).
    hit = F.expr(both_boxy) | K.st_intersects(
        F.expr(f"CASE WHEN NOT ({both_boxy}) THEN _rx.geom END"),
        F.expr(f"CASE WHEN NOT ({both_boxy}) THEN _lx.geom END"),
    )
    flag = ident(out)
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
    tiles, the reference's workload). ``dissolve=True`` measures the
    record's area covered by the union of its features, each shared
    region counted once (exact for overlapping layers).

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

    Plan: ONE candidate join, each side read once, routed per pair.
    When both sides of a pair are boxy (see ``st_bbox_boxy``) the zone
    is the bbox-intersection rect, built in whole-stage codegen: its
    area is closed-form, and under ``dissolve`` the record's rects are
    unioned by a rectangle sweep over 4 doubles each, so no WKB of a
    boxy pair crosses into Python. Any other pair goes through the
    exact geometry kernels: pairwise ``st_intersection_area``, or under
    ``dissolve`` one ``ops.covered_area`` sweep per record over its
    rects and other features. One aggregate per record sums the areas,
    or collects the rects and features, and carries the area
    denominator."""
    # ONE fused kernel pass prepares a WKB record side: make_valid
    # (idempotent, so the reference's per-pair repair collapses to
    # per-row), bbox, boxy flag, and the area denominator
    rec = _prepared(records, record_geom, "_rx", K.st_prepare, id_col)
    lay = _prepared(layer, layer_geom, "_lx", _with_geom(K.st_bbox_boxy))
    cand = _candidates(rec, lay, cell)
    # parsed SQL text throughout (the _bbox_overlap_sql rationale)
    key = ident(id_col)
    both_boxy = "_rx.boxy AND _lx.boxy"
    # the kernel args are NULL-masked on boxy pairs, as in
    # boolean_intersect: the extracted Python node runs on EVERY
    # candidate row, and a NULL arg ships no WKB and skips the parse
    rx, lx = (
        f"CASE WHEN NOT ({both_boxy}) THEN {side}.geom END" for side in ("_rx", "_lx")
    )
    x0 = "greatest(element_at(_rx.bbox, 1), element_at(_lx.bbox, 1))"
    y0 = "greatest(element_at(_rx.bbox, 2), element_at(_lx.bbox, 2))"
    x1 = "least(element_at(_rx.bbox, 3), element_at(_lx.bbox, 3))"
    y1 = "least(element_at(_rx.bbox, 4), element_at(_lx.bbox, 4))"
    if dissolve:
        # a boxy pair with a degenerate rect adds no area and is
        # dropped; every other pair is kept, so the filter stays in the
        # JVM (a curvy pair that misses adds nothing to the sweep)
        positive = f"{x1} > {x0} AND {y1} > {y0}"
        corners = ("_zx0", "_zy0", "_zx1", "_zy1")
        per_id = (
            cand.filter(f"NOT ({both_boxy}) OR ({positive})")
            .selectExpr(
                key,
                *(
                    f"CASE WHEN {both_boxy} THEN {v} END AS {c}"
                    for v, c in zip((x0, y0, x1, y1), corners)
                ),
                f"{rx} AS _rg",
                f"{lx} AS _lg",
                "_rx.area AS _ra",
            )
            .groupBy(id_col)
            # JVM collect_list (it skips the NULLs: a boxy pair adds
            # only its corners, any other pair only its feature) + ONE
            # scalar kernel call per Arrow batch, not a GROUPED_AGG
            # (one Python invocation PER GROUP); the masked record geom
            # (NULL when every pair is boxy) and the area denominator
            # are constant per id and ride through the aggregate
            .agg(
                F.expr("max(_rg) AS _rg"),
                *(F.expr(f"collect_list({c}) AS {c}") for c in corners),
                F.expr("collect_list(_lg) AS _lgs"),
                F.expr("max(_ra) AS _ra"),
            )
            .select(
                F.expr(key),
                K.st_covered_area_lists(
                    *map(F.expr, ("_rg", *corners, "_lgs"))
                ).alias("_zone_area"),
                F.expr("_ra"),
            )
        )
    else:
        # no exact intersects prefilter here: an empty intersection
        # adds 0 to the sum. The kernel's call is a Column (a session
        # need not know it by a SQL name), so one Column operator joins
        # it to the SQL text of the boxy branch.
        w, h = f"({x1} - {x0})", f"({y1} - {y0})"
        rect_area = f"CASE WHEN {w} > 0 AND {h} > 0 THEN {w} * {h} ELSE 0.0D END"
        per_id = (
            cand.select(
                F.expr(key),
                F.when(F.expr(both_boxy), F.expr(rect_area))
                .otherwise(K.st_intersection_area(F.expr(rx), F.expr(lx)))
                .alias("_ia"),
                F.expr("_rx.area AS _ra"),
            )
            .groupBy(id_col)
            .agg(F.expr("sum(_ia) AS _zone_area"), F.expr("max(_ra) AS _ra"))
        )
    return _joined_back(records, per_id, id_col, out, "coalesce(_zone_area / _ra, 0.0D)")


def _joined_back(
    records: DataFrame, per_id: DataFrame, id_col: str, out: str, value: str
) -> DataFrame:
    """``records`` left-joined to the per-record result ``per_id`` on
    ``id_col``, with column ``out`` set to the SQL ``value`` (in place
    if ``records`` has an ``out`` column, else last) and ``per_id``'s
    own columns dropped, in one projection over the join: each
    transform is one more analysis of the whole plan."""
    cols = [id_col] + [c for c in records.columns if c != id_col]
    exprs = [f"{value} AS {ident(out)}" if c == out else ident(c) for c in cols]
    if out not in cols:
        exprs.append(f"{value} AS {ident(out)}")
    return records.join(per_id, on=id_col, how="left").selectExpr(*exprs)


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
    column is prepared here by ``st_prepare`` (records) or
    ``st_bbox_boxy`` (layer). Any other type raises ValueError.

    ``cell`` picks the candidate-pair plan as in ``boolean_intersect``:
    ``None`` broadcasts the layer, a positive cell size runs the grid
    equi-join."""
    agg = K.st_union_agg if dissolve else K.st_collect_agg
    rec = _prepared(records, record_geom, "_rx", K.st_prepare, id_col)
    lay = _prepared(layer, layer_geom, "_lx", _with_geom(K.st_bbox_boxy))
    # parsed SQL text (the _bbox_overlap_sql rationale)
    rg, lg = F.expr("_rx.geom"), F.expr("_lx.geom")
    zones = (
        _candidates(rec, lay, cell)
        .filter(K.st_intersects(rg, lg))
        .select(F.expr(ident(id_col)), K.st_intersection(rg, lg).alias("_zone"))
        .groupBy(id_col)
        .agg(agg(F.expr("_zone")).alias("_zone"))
    )
    return _joined_back(records, zones, id_col, geom_dest or record_geom, "_zone")


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
