"""Spatial operators: geometry scalar transforms + spatial joins.

Re-expresses the reference's PostGIS-backed nodes (SURVEY.md §2.4, §2.6)
as DataFrame plans over WKB columns + the ``geo.kernels`` pandas UDFs.

Scale design: the Python kernel is only invoked on candidate pairs.
Joins prefilter JVM-side wherever possible (broadcast of the
dimension-sized layer, grid-cell equi-join for big-big); the kernel
then does exact geometry per Arrow batch. This mirrors how PostGIS
uses a GiST index scan before exact DE-9IM tests.
"""

from __future__ import annotations

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


def _bbox_overlap(a: Column | str, b: Column | str) -> Column:
    """JVM-evaluated envelope-overlap predicate over st_bbox arrays —
    the GiST-index-scan analogue: the cross join's pairs are culled in
    whole-stage codegen and only envelope-overlapping candidates reach
    the Python geometry kernel. Null bboxes (empty/bad geometry) fail
    the predicate, matching intersects()=False for empties.

    String args are SQL references ("_rx.bbox") and parse as ONE
    expression — op-by-op Column building pays a py4j round-trip per
    operator (~0.3-5 ms each), and the spatial joins build this
    predicate several times per operator call. Identical tree."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"element_at({a}, 1) <= element_at({b}, 3) AND "
            f"element_at({b}, 1) <= element_at({a}, 3) AND "
            f"element_at({a}, 2) <= element_at({b}, 4) AND "
            f"element_at({b}, 2) <= element_at({a}, 4)"
        )
    return (
        (F.element_at(a, 1) <= F.element_at(b, 3))
        & (F.element_at(b, 1) <= F.element_at(a, 3))
        & (F.element_at(a, 2) <= F.element_at(b, 4))
        & (F.element_at(b, 2) <= F.element_at(a, 4))
    )


_LIVE_CACHES: list[DataFrame] = []

# How many spatial-join record-side caches may be live at once. >1 so a
# MULTI-LEG query (e.g. the overlay surface: three operator calls whose
# branches all execute inside ONE final plan) keeps every leg's prep
# cached — with the old evict-on-next-call rule only the LAST call's
# cache survived to execution and the earlier legs re-ran their
# geometry-kernel prep once per branch (r17 measurement: the pairwise
# leg spent ~2.9s with zero Python pairs, all of it duplicated
# ArrowEvalPython prep; the before-plan holds 56 ArrowEvalPython vs 6
# cache scans). Still bounded (ADVICE r01): a long-lived session holds
# at most the last few record sides, each a narrow (id, struct) frame.
# 12, not 6, since r17 also caches the LAYER side: a three-leg surface
# (j2_overlay) holds 3 record + 3 layer caches live inside ONE plan,
# and j1's two strategies another 2+2 — 12 keeps every live cache of
# the widest registered query resident while staying a hard bound.
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


_KDB_STRIPS_X = 8  # leaves per axis for strategy="kdb" (64 total)
_KDB_STRIPS_Y = 8


def _strip_index(bounds: Column, v: Column) -> Column:
    """Index of ``v`` among sorted interior ``bounds``: the count of
    boundaries <= v — a branch-free binary-search substitute that stays
    inside whole-stage codegen for the small boundary arrays here."""
    return F.aggregate(
        bounds,
        F.lit(0),
        lambda acc, b: acc + F.when(b <= v, 1).otherwise(0),
    )


def _kdb_candidates(
    rec: DataFrame,
    lay: DataFrame,
    rec_bbox: Column,
    lay_bbox: Column,
) -> DataFrame:
    """The ADAPTIVE big-big path (Sedona-style sampled partitioning as
    a two-level KDB tree): the uniform grid's weakness is skew — urban
    clusters put most envelopes in a few hot cells no matter the cell
    size. Here the record side's centroid QUANTILES choose the
    partition boundaries instead: x splits into equal-count strips
    (percentile_approx, one aggregate job), then each strip splits into
    equal-count y leaves (one grouped aggregate job). Every leaf holds
    ~|records|/64 envelopes BY CONSTRUCTION, whatever the spatial
    distribution. The boundary table is a few hundred doubles —
    collected by contract, shipped back as plan literals.

    Both sides then explode into the leaves their envelope overlaps
    (strip-index ranges via :func:`_strip_index` — no per-leaf join),
    equi-join on (sx, sy), exact-filter envelope overlap, and
    deduplicate with the same reporting-leaf rule as the grid path
    (the leaf containing the min corner of the envelope intersection).

    At 100 TB the two stat passes are the price of balance; cache the
    record relation (the callers already do) so they do not rescan."""
    rec_nn = rec.filter(rec_bbox.isNotNull())
    cx = (F.element_at(rec_bbox, 1) + F.element_at(rec_bbox, 3)) / 2
    cy = (F.element_at(rec_bbox, 2) + F.element_at(rec_bbox, 4)) / 2
    px, py = _KDB_STRIPS_X, _KDB_STRIPS_Y
    xq = [i / px for i in range(1, px)]
    yq = [i / py for i in range(1, py)]
    xb_row = rec_nn.select(
        F.percentile_approx(cx, F.lit(xq).cast("array<double>")).alias("xb")
    ).first()
    # empty record side: x_bounds stays [], _strip_index degenerates to
    # a single leaf and the join naturally produces zero candidates
    x_bounds = list(xb_row["xb"] or [])
    yb_rows = (
        rec_nn.withColumn("_sx", _strip_index(F.lit(x_bounds).cast("array<double>"), cx))
        .groupBy("_sx")
        .agg(F.percentile_approx(cy, F.lit(yq).cast("array<double>")).alias("yb"))
        .collect()
    )
    y_bounds = [[] for _ in range(px)]
    for r in yb_rows:
        y_bounds[int(r["_sx"])] = list(r["yb"] or [])
    xb_lit = F.array(*[F.lit(float(v)) for v in x_bounds])
    yb_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in yb]) for yb in y_bounds]
    )

    def tiled(df: DataFrame, bbox: Column) -> DataFrame:
        sx = F.explode(
            F.sequence(
                _strip_index(xb_lit, F.element_at(bbox, 1)),
                _strip_index(xb_lit, F.element_at(bbox, 3)),
            )
        )
        out = df.filter(bbox.isNotNull()).withColumn("_sx", sx)
        yb = F.element_at(yb_lit, F.col("_sx") + 1)
        sy = F.explode(
            F.sequence(
                _strip_index(yb, F.element_at(bbox, 2)),
                _strip_index(yb, F.element_at(bbox, 4)),
            )
        )
        return out.withColumn("_sy", sy)

    joined = tiled(rec, rec_bbox).join(tiled(lay, lay_bbox), on=["_sx", "_sy"])
    ix = _strip_index(
        xb_lit, F.greatest(F.element_at(rec_bbox, 1), F.element_at(lay_bbox, 1))
    )
    iy = _strip_index(
        F.element_at(yb_lit, ix + 1),
        F.greatest(F.element_at(rec_bbox, 2), F.element_at(lay_bbox, 2)),
    )
    return (
        joined.filter(_bbox_overlap(rec_bbox, lay_bbox))
        .filter((F.col("_sx") == ix) & (F.col("_sy") == iy))
        .drop("_sx", "_sy")
    )


def _candidates(
    rec: DataFrame,
    lay: DataFrame,
    rec_bbox: str,
    lay_bbox: str,
    strategy: str,
    cell: float | None,
) -> DataFrame:
    """Candidate pairs whose envelopes overlap, by one of three plans
    (the bbox args are SQL references such as ``"_rx.bbox"``):

    - ``broadcast``: broadcast the (dimension-sized) layer, cull with
      the bbox predicate inside whole-stage codegen. The default, and
      the right plan whenever the layer fits an executor.
    - ``grid``: the big-big path (PostGIS GiST parity at any layer
      size, ``terra.py:235``). Both sides explode their envelope into
      the ``cell``-sized grid cells it covers, equi-join on the cell
      key (a plain shuffle hash join — no broadcast, no nested-loop),
      then exact-filter envelope overlap. A pair sharing several cells
      is deduplicated for free by keeping it only in its *reporting
      cell* — the cell containing the min corner of the two envelopes'
      intersection — instead of a distinct. ``cell`` should be on the
      order of a typical feature envelope: too small explodes
      replication, too large degrades to few fat partitions (AQE evens
      out the tail).
    - ``kdb``: the quantile-partitioned big-big path
      (:func:`_kdb_candidates`).
    """
    if strategy == "broadcast":
        return rec.join(F.broadcast(lay), _bbox_overlap(rec_bbox, lay_bbox))
    if strategy == "kdb":
        return _kdb_candidates(rec, lay, F.expr(rec_bbox), F.expr(lay_bbox))
    if strategy != "grid":
        raise ValueError(f"unknown spatial join strategy {strategy!r}")
    if cell is None or cell <= 0:
        raise ValueError("grid strategy requires a positive cell size")
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
        return F.col(name).alias(alias)
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
    strategy: str = "broadcast",
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

    Plan: broadcast the layer (dimension-sized) with its bboxes, cull
    pairs with the JVM bbox predicate, then split: for boxy×boxy pairs
    (points, grid tiles — see ``st_bbox_boxy``) the bbox overlap IS the
    exact answer, evaluated wholly in whole-stage codegen; only curvy
    pairs reach the Python intersects kernel. Both prepared sides are
    persisted because both branches scan them (scoped: see
    ``_scoped_persist`` and ``release_spatial_caches``). Rows with no
    layer match keep flag=False via left join + coalesce.
    ``strategy="grid"`` (with a ``cell`` size) switches to the big-big
    cell-partitioned join — use it when the layer is too large to
    broadcast."""
    prep = _with_geom(K.st_bbox_boxy)
    rec = _scoped_persist(
        records.select(id_col, _prepared(records, record_geom, "_rx", prep))
    )
    lay = _scoped_persist(layer.select(_prepared(layer, layer_geom, "_lx", prep)))
    cand = _candidates(rec, lay, "_rx.bbox", "_lx.bbox", strategy, cell)
    both_boxy = F.col("_rx.boxy") & F.col("_lx.boxy")
    fast = cand.filter(both_boxy).select(id_col)
    # NULL-mask the kernel args on the boxy pairs: Catalyst extracts the
    # pandas UDF out of the Filter into an ArrowEvalPython node that
    # runs on EVERY candidate row (the ~both_boxy filter evaluates
    # above it), so without the mask each boxy pair ships its WKB to
    # Python for an answer the bbox join already gave. Masked args make
    # those rows a NULL-in/False-out no-op in the kernel (no parse, no
    # bytes); the ~both_boxy filter still excludes them from the union
    # either way, so the result is unchanged.
    slow = (
        cand.filter(~both_boxy)
        .filter(
            K.st_intersects(
                F.when(~both_boxy, F.col("_rx.geom")),
                F.when(~both_boxy, F.col("_lx.geom")),
            )
        )
        .select(id_col)
    )
    hits = fast.unionByName(slow).groupBy(id_col).agg(F.lit(True).alias(out))
    return records.join(hits, on=id_col, how="left").withColumn(
        out, F.coalesce(F.col(out), F.lit(False))
    )


def intersection_percent_by_area(
    records: DataFrame,
    layer: DataFrame,
    out: str = "intersection_percent",
    record_geom: str = "geom",
    layer_geom: str = "layer_geom",
    id_col: str = IDENTIFIER,
    dissolve: bool = False,
    strategy: str = "broadcast",
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
            _candidates(
                rec_fast, lay, "_rx.bbox", "_lx.bbox", strategy, cell
            )
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
            _candidates(
                rec_slow, lay, "_rx.bbox", "_lx.bbox", strategy, cell
            )
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
    cand = _candidates(
        rec, lay, "_rx.bbox", "_lx.bbox", strategy, cell
    )
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
    strategy: str = "broadcast",
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
    (layer). Any other type raises ValueError."""
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
        _candidates(rec, lay, "_rx.bbox", "_lx.bbox", strategy, cell)
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
