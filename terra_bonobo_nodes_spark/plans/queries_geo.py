"""Correctness queries: geometry kernel + spatial operators (SURVEY §2.4/2.6).

DuckDB has no spatial extension in this environment, so each oracle
expresses the geometric ground truth *numerically* (rect algebra,
closed-form areas, mercator formulas) while the Spark side runs the real
WKB kernel — the comparison therefore checks the kernel's math, not just
the plumbing. Float outputs are rounded to 6 decimals on both sides
(kernel results differ from closed forms only at ~1e-12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import kernels as K
from terra_bonobo_nodes_spark.operators.spatial import (
    attribute_to_geometry,
    isochrone_subtraction,
    boolean_intersect,
    geometry_to_centroid,
    intersection_geom,
    transform_geom,
    union_on_property,
)
from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.tables import load_table


def _customer_rects(spark: SparkSession, sf_dir: str, half: float = 3.0) -> DataFrame:
    """Axis-aligned square per customer, center derived from acctbal/key."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") % 100.0).alias("cx"),
        (F.col("c_custkey") % 100).cast("double").alias("cy"),
    )
    h = F.lit(half)
    cx, cy = F.col("cx"), F.col("cy")
    # ONE fused, vectorized crossing: the prepared geometry (st_prepare's
    # struct), which the spatial joins take as record_geom="prep" and
    # use as-is instead of running their own per-row prepare pass
    pp = K.st_poly_prep(
        F.array(cx - h, cx + h, cx + h, cx - h),
        F.array(cy - h, cy - h, cy + h, cy + h),
    )
    return cust.select(F.col("c_custkey").alias("identifier"), pp.alias("prep"))


def _tile_layer(spark: SparkSession) -> DataFrame:
    """110 disjoint 10x10 tiles covering x in [-100,0), y in [-10,100),
    as one prepared column ``layer_prep`` (see _customer_rects)."""
    # ONE partition: a dimension-sized broadcast layer planned as 32
    # range slices turns each chained kernel into a 32-task Python
    # stage (~1s of worker dispatch for 110 rows)
    t = spark.range(0, 110, 1, 1)
    x0 = ((F.col("id") % 10) * 10 - 100).cast("double")
    y0 = ((F.col("id") / 10).cast("long") * 10 - 10).cast("double")
    pp = K.st_poly_prep(
        F.array(x0, x0 + 10, x0 + 10, x0),
        F.array(y0, y0, y0 + 10, y0 + 10),
    )
    return t.select(pp.alias("layer_prep"))


TILES_SQL = """
tiles AS (
  SELECT CAST(i % 10 AS DOUBLE) * 10 - 100 AS x0,
         CAST(i // 10 AS DOUBLE) * 10 - 10 AS y0
  FROM range(110) t(i))
"""

RECTS_SQL = """
rect AS (
  SELECT c_custkey, (c_acctbal % 100.0) AS cx,
         CAST(c_custkey % 100 AS DOUBLE) AS cy
  FROM customer)
"""


def _customer_ells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concave L per customer: 4x2 base + 2x2 tower (area 12)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") % 100.0).alias("cx"),
        (F.col("c_custkey") % 100).cast("double").alias("cy"),
    )
    cx, cy = F.col("cx"), F.col("cy")
    pp = K.st_poly_prep(
        F.array(cx, cx + 4, cx + 4, cx + 2, cx + 2, cx),
        F.array(cy, cy, cy + 2, cy + 2, cy + 4, cy + 4),
    )
    return cust.select(F.col("c_custkey").alias("identifier"), pp.alias("prep"))


def _ell_tile_layer(spark: SparkSession) -> DataFrame:
    """Concave L tiles on the 10-grid: 10x5 base + 5x5 tower (area 75)."""
    t = spark.range(0, 110, 1, 1)  # one partition — see _tile_layer
    x0 = ((F.col("id") % 10) * 10 - 100).cast("double")
    y0 = ((F.col("id") / 10).cast("long") * 10 - 10).cast("double")
    pp = K.st_poly_prep(
        F.array(x0, x0 + 10, x0 + 10, x0 + 5, x0 + 5, x0),
        F.array(y0, y0, y0 + 5, y0 + 5, y0 + 10, y0 + 10),
    )
    return t.select(pp.alias("layer_prep"))


ELLS_SQL = """
lrec AS (
  SELECT c_custkey, cx AS rx0, cy AS ry0, cx + 4 AS rx1, cy + 2 AS ry1 FROM rect
  UNION ALL
  SELECT c_custkey, cx, cy + 2, cx + 2, cy + 4 FROM rect)
"""

ELL_TILES_SQL = """
ltile AS (
  SELECT x0 AS tx0, y0 AS ty0, x0 + 10 AS tx1, y0 + 5 AS ty1 FROM tiles
  UNION ALL
  SELECT x0, y0 + 5, x0 + 5, y0 + 10 FROM tiles)
"""


# --- G2/G5/G6/G8: scalar geometry kernels -----------------------------------
# The FOUR standalone scalar-geometry rows (g2_point_from_attributes,
# g5_force_2d, g6_simplify_zigzag, g8_subdivide_area) RETIRED round 17
# into the registered g_scalar_geometry_surface
# (plans/queries_candidates.py) — each row's closed-form oracle check
# kept verbatim as a column at ONE supplier grain. g9 stays its own
# row: a line x polygon overlay JOIN against the tile layer, not a
# scalar kernel. Unit coverage for each kernel is unchanged in
# tests/test_spatial.py / test_geo_kernels.py. Ledger item 2.


# --- G1+G3: GeoJSON parse -> centroid -> round-trip -------------------------


@register(
    "g1_geojson_attribute_roundtrip",
    oracle="""
SELECT event_id, ((value % 360) - 180) AS gx, ((value % 170) - 85) AS gy
FROM events
""",
    tags=("G1", "G3", "G4"),
)
def g1_geojson_attribute_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )
    gj = F.concat(
        F.lit('{"type":"Point","coordinates":['),
        F.col("x").cast("string"),
        F.lit(","),
        F.col("y").cast("string"),
        F.lit("]}"),
    )
    parsed = attribute_to_geometry(ev.withColumn("gjson", gj), "gjson", drop=True)
    cent = geometry_to_centroid(parsed, "geom", "centroid")
    xy = K.st_xy("centroid")
    return cent.select("event_id", xy["x"].alias("gx"), xy["y"].alias("gy"))


# (g5_force_2d / g6_simplify_zigzag retired round 17 into
# g_scalar_geometry_surface — see the G2/G5/G6/G8 note above.)


# --- G7: web-mercator reprojection ------------------------------------------


# Registered via g7_transform_surface (round-10 consolidation — the
# five G7 CRS queries shared the one-row-per-event grain and are now
# ONE wide projection; see the registration after the polar oracle).
_MERC_ORACLE = """
SELECT event_id,
       round(((value % 360) - 180) * pi() * 6378137.0 / 180.0, 4) AS mx,
       round(6378137.0 * ln(tan(pi() / 4.0 + ((value % 170) - 85) * pi() / 360.0)), 4)
         AS my
FROM events
"""


# --- G7b: Lambert-93 (EPSG:2154) reprojection + roundtrip --------------------


def _lambert93_oracle() -> str:
    """Forward Snyder 2SP closed form with the SAME derived constants the
    kernel uses (``geo/ops.py`` LAMBERT93, embedded via repr so both
    engines fold identical doubles through the same glibc libm), plus a
    roundtrip-closure boolean: 4326→2154→4326 must land within 1e-9° of
    the input. A boolean (instead of rounded roundtrip coords) keeps fp
    noise ~1e-12° from ever flipping a rounding boundary."""
    from terra_bonobo_nodes_spark.geo.ops import LAMBERT93 as L

    e, n, af, rho0 = (repr(v) for v in (L.e, L.n, L.af, L.rho0))
    return f"""
WITH pts AS (
  SELECT event_id, ((value % 15) - 5) AS lon, ((value % 10) + 41) AS lat
  FROM events),
f AS (
  SELECT event_id, lon, lat,
         {af} * pow(
           tan(pi() / 4.0 - radians(lat) / 2.0)
             * pow((1.0 + {e} * sin(radians(lat)))
                   / (1.0 - {e} * sin(radians(lat))), {e} / 2.0),
           {n}) AS rho,
         {n} * (radians(lon) - radians(3.0)) AS theta
  FROM pts)
SELECT event_id,
       round(700000.0 + rho * sin(theta), 4) AS lx,
       round(6600000.0 + {rho0} - rho * cos(theta), 4) AS ly,
       TRUE AS rt_ok
FROM f
"""


# (g7b registration merged into g7_transform_surface, round 10)


# --- G7c: UTM 31N (EPSG:32631) Krüger forward + roundtrip --------------------


def _utm31n_oracle() -> str:
    """Forward Krüger series (Karney 2011) with the SAME derived
    constants the kernel uses (``geo/ops.py`` TransverseMercator),
    hyperbolics composed from exp/ln on BOTH sides so the two engines
    fold the identical libm op sequence (see the class docstring).
    Roundtrip closure (iterative inverse, not SQL-expressible) is a
    Spark-side boolean, as in the Lambert query."""
    from terra_bonobo_nodes_spark.geo.ops import _tm_for_epsg

    tm = _tm_for_epsg("32631")
    e = repr(tm.e)
    ka = repr(tm.k0 * tm.A)
    a1, a2, a3, a4, a5, a6 = (repr(v) for v in tm.alpha)

    def _cosh(v: str) -> str:
        return f"((exp({v}) + exp(-({v}))) / 2.0)"

    def _sinh(v: str) -> str:
        return f"((exp({v}) - exp(-({v}))) / 2.0)"

    xi_terms = " + ".join(
        f"{a} * sin({j}.0 * xip) * {_cosh(f'{j}.0 * etap')}"
        for j, a in zip((2, 4, 6, 8, 10, 12), (a1, a2, a3, a4, a5, a6))
    )
    eta_terms = " + ".join(
        f"{a} * cos({j}.0 * xip) * {_sinh(f'{j}.0 * etap')}"
        for j, a in zip((2, 4, 6, 8, 10, 12), (a1, a2, a3, a4, a5, a6))
    )
    return f"""
WITH pts AS (
  SELECT event_id, (value % 6) AS lon, ((value % 10) + 41) AS lat
  FROM events),
c1 AS (
  SELECT event_id, radians(lon) - radians(3.0) AS ld,
         sin(radians(lat)) AS s, tan(radians(lat)) AS tp
  FROM pts),
c2 AS (
  SELECT event_id, ld,
         ln(tp + sqrt(tp * tp + 1.0))
           - {e} * (0.5 * ln((1.0 + {e} * s) / (1.0 - {e} * s))) AS q
  FROM c1),
c3 AS (
  SELECT event_id, ld, (exp(q) - exp(-q)) / 2.0 AS t, cos(ld) AS cl
  FROM c2),
c4 AS (
  SELECT event_id, atan2(t, cl) AS xip,
         sin(ld) / sqrt(t * t + cl * cl) AS u
  FROM c3),
c5 AS (
  SELECT event_id, xip, ln(u + sqrt(u * u + 1.0)) AS etap
  FROM c4),
f AS (
  SELECT event_id, xip + {xi_terms} AS xi, etap + {eta_terms} AS eta
  FROM c5)
SELECT event_id,
       round(500000.0 + {ka} * eta, 4) AS ux,
       round({ka} * xi, 4) AS uy,
       TRUE AS rt_ok
FROM f
"""


# (g7c registration merged into g7_transform_surface, round 10)


# (g8_subdivide_area retired round 17 into g_scalar_geometry_surface —
# see the G2/G5/G6/G8 note above.)


# --- A2: union-on-property + centroid ---------------------------------------


@register(
    "a2_union_on_property_centroid",
    oracle="""
SELECT event_type,
       count(*) AS n_geoms,
       round(avg((value % 360) - 180), 6) AS ux,
       round(avg((value % 170) - 85), 6) AS uy
FROM events GROUP BY event_type
""",
    tags=("A2", "G4"),
)
def a2_union_on_property_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )
    pts = ev.withColumn("geom", K.st_point("x", "y"))
    unions = union_on_property(pts, "event_type")
    # fused centroid coordinates (r18): one centroid parse, not two
    cxy = K.st_xy(K.st_centroid("geom"))
    return unions.select(
        "event_type",
        K.st_npoints("geom").cast("long").alias("n_geoms"),
        F.round(cxy["x"], 6).alias("ux"),
        F.round(cxy["y"], 6).alias("uy"),
    )


@register(
    "a2_union_area_dissolve",
    oracle="""
WITH sq AS (
  SELECT s_nationkey,
         CAST(s_suppkey % 5 AS BIGINT) AS kx,
         CAST(s_suppkey % 7 AS BIGINT) AS ky
  FROM supplier),
cells AS (
  SELECT DISTINCT s_nationkey, kx + dx.i AS cx, ky + dy.i AS cy
  FROM sq CROSS JOIN range(2) dx(i) CROSS JOIN range(2) dy(i))
SELECT s_nationkey AS nation, CAST(count(*) AS DOUBLE) AS union_area
FROM cells GROUP BY s_nationkey
""",
    tags=("A2", "T2", "overlay"),
)
def a2_union_area_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE geometric union per group — heavily OVERLAPPING 2x2 squares
    snapped to the integer grid, one per supplier, dissolved per
    nation. The oracle counts the distinct unit cells each nation's
    squares cover (exact union area for grid-snapped shapes), so any
    double-counting of overlaps in the union aggregate fails the hash.
    Exercises the reference's cascaded ``|=`` semantics
    (``common.py:557-564``) with real overlaps, which plain ST_Collect
    can't model."""
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation"),
        (F.col("s_suppkey") % 5).cast("double").alias("kx"),
        (F.col("s_suppkey") % 7).cast("double").alias("ky"),
    )
    kx, ky = F.col("kx"), F.col("ky")
    squares = supp.withColumn(
        "geom",
        K.st_make_polygon(
            F.array(kx, kx + 2, kx + 2, kx),
            F.array(ky, ky, ky + 2, ky + 2),
        ),
    )
    return (
        squares.groupBy("nation")
        .agg(K.st_union_area_agg(F.col("geom")).alias("union_area"))
        .select(F.col("nation").cast("long").alias("nation"), "union_area")
    )


# --- J1: existential spatial join -------------------------------------------


_J1_ORACLE = """
WITH pts AS (
  SELECT event_id, ((value % 360) - 180) AS x, ((value % 170) - 85) AS y
  FROM events),
rects AS (
  SELECT CAST(n_nationkey * 12 AS DOUBLE) - 160 AS x0,
         CAST((n_nationkey % 5) * 30 AS DOUBLE) - 75 AS y0
  FROM nation)
SELECT p.event_id,
       coalesce(bool_or(p.x >= r.x0 AND p.x <= r.x0 + 10
                    AND p.y >= r.y0 AND p.y <= r.y0 + 20), FALSE) AS in_zone
FROM pts p LEFT JOIN rects r
  ON p.x >= r.x0 AND p.x <= r.x0 + 10 AND p.y >= r.y0 AND p.y <= r.y0 + 20
GROUP BY p.event_id
"""


def _j1_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Point-events vs nation rectangles, shared by the broadcast and
    grid J1 registrations (one oracle, two physical strategies)."""
    # NOT spread (guide §2.5 measured both ways, r17 second session):
    # spreading the 100k-event scan before the point build read
    # 2.22s min / 2.63s med vs 1.83/1.92 unspread — the extra exchange
    # plus 32-task downstream stages across both strategies cost more
    # than the single-task st_point+bbox prep saves (points are cheap
    # to prepare; contrast the md5/HOF chains that do win from spread)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("identifier"),
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )
    # a point's prep is closed-form — bbox [x, y, x, y], always boxy,
    # area 0 — so the prepared struct builds in whole-stage codegen
    # around the vectorized st_point and NO WKB parse happens for it;
    # the joins take it as record_geom="prep" and skip their per-row
    # st_bbox_boxy pass
    missing = F.expr("x IS NULL OR y IS NULL OR isnan(x) OR isnan(y)")
    pts = ev.withColumn(
        "prep",
        F.struct(
            K.st_point("x", "y").alias("geom"),
            F.when(~missing, F.expr("array(x, y, x, y)")).alias("bbox"),
            (~missing).alias("boxy"),
            F.lit(0.0).alias("area"),
        ),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        ((F.col("n_nationkey") * 12).cast("double") - 160).alias("x0"),
        (((F.col("n_nationkey") % 5) * 30).cast("double") - 75).alias("y0"),
    )
    # same rectangle ring the WKT text built (float->string->float
    # round-trips are exact), one fused vectorized crossing
    x0, y0 = F.col("x0"), F.col("y0")
    pp = K.st_poly_prep(
        F.array(x0, x0 + 10, x0 + 10, x0),
        F.array(y0, y0, y0 + 20, y0 + 20),
    )
    layer = nation.select(pp.alias("layer_prep"))
    return pts, layer


@register(
    "j1_boolean_intersect",
    oracle=_J1_ORACLE.replace(
        "AS in_zone\n",
        """AS in_zone,
       coalesce(bool_or(p.x >= r.x0 AND p.x <= r.x0 + 10
                    AND p.y >= r.y0 AND p.y <= r.y0 + 20), FALSE) AS in_zone_grid
""",
    ),
    headline=True,
    tags=("J1", "grid"),
)
def j1_boolean_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanIntersect through BOTH physical strategies on one row
    (r13 merge of the former j1_bigbig_grid_intersect, the
    llm_embedding_cosine_pairs precedent): ``in_zone`` is the broadcast
    dimension-join plan, ``in_zone_grid`` re-answers the same question
    through ``strategy="grid"`` — both envelope sets tiled into 20°
    cells, equi-joined on the cell key (no broadcast, no nested loop;
    the plan a 100 TB layer needs). The shared oracle column is emitted
    twice, so the row proves grid ≡ broadcast ≡ the SQL ground truth.
    The two strategies CHAIN (boolean_intersect preserves its input
    columns), so no extra join is paid to combine the flags."""
    pts, layer = _j1_inputs(spark, sf_dir)
    prep = dict(record_geom="prep", layer_geom="layer_prep")
    flagged = boolean_intersect(pts, layer, out="in_zone", **prep)
    both = boolean_intersect(
        flagged, layer, out="in_zone_grid", strategy="grid", cell=20.0, **prep
    )
    return both.select(
        F.col("identifier").alias("event_id"), "in_zone", "in_zone_grid"
    )


# --- J2: intersection percent by area ---------------------------------------
# The THREE standalone J2 rows (j2_intersection_percent_by_area,
# j2_concave_overlay_percent, j2_dissolve_overlapping_layer) RETIRED
# LATE round 17 into the registered j2_overlay_surface
# (plans/queries_candidates.py) — identical (c_custkey,
# intersection_percent) grain, each leg's fixture and oracle text
# verbatim under a strategy literal ('pairwise' / 'concave' /
# 'dissolve'). Registered early (the r18 ledger item 2) because the
# dissolve rect fast path (operators/spatial.py) changed the three
# rows' code and the surface is where their changed-code driver row
# lands. The shared fixtures above (_customer_rects / _tile_layer /
# _customer_ells / _ell_tile_layer and the RECTS/TILES/ELLS SQL
# constants) stay: g9 and the surface's oracle use them.


# --- G9: line clipped to layer (line x polygon overlay) ---------------------


@register(
    "g9_line_clip_length",
    oracle=f"""
WITH {RECTS_SQL.strip()}, {TILES_SQL.strip()},
ov AS (
  SELECT r.c_custkey,
         CASE WHEN r.cy + 0.5 > t.y0 AND r.cy + 0.5 < t.y0 + 10
              THEN greatest(0, least(r.cx + 20, t.x0 + 10)
                             - greatest(r.cx - 20, t.x0))
              ELSE 0 END AS seg
  FROM rect r CROSS JOIN tiles t)
SELECT c_custkey, round(coalesce(sum(seg), 0.0), 6) AS clip_len
FROM ov GROUP BY c_custkey
""",
    tags=("G1", "J3", "overlay"),
)
def g9_line_clip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineString × polygon overlay: a horizontal chord per customer
    clipped to the tile layer (IntersectionGeom over line records —
    ``terra.py:544-552`` with non-polygon geometry). The clipped length
    equals the sum of x-overlaps with the tile row containing the
    chord, which the oracle states in closed form. The chord sits at
    cy+0.5 so it never lies ON a tile boundary (boundary segments
    would be claimed by both adjacent tiles)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") % 100.0).alias("cx"),
        (F.col("c_custkey") % 100).cast("double").alias("cy"),
    )
    cx, y = F.col("cx"), F.col("cy") + 0.5
    lines = cust.select(
        F.col("c_custkey").alias("identifier"),
        K.st_make_line(F.array(cx - 20, cx + 20), F.array(y, y)).alias("geom"),
    )
    clipped = intersection_geom(
        lines, _tile_layer(spark), layer_geom="layer_prep", geom_dest="zone"
    )
    return clipped.select(
        F.col("identifier").cast("long").alias("c_custkey"),
        F.round(F.coalesce(K.st_length("zone"), F.lit(0.0)), 6).alias("clip_len"),
    )


# --- J3: clip to layer (intersection geometry) ------------------------------


@register(
    "j3_intersection_geom_area",
    oracle=f"""
WITH {RECTS_SQL.strip()}, {TILES_SQL.strip()},
ov AS (
  SELECT r.c_custkey,
         greatest(0, least(r.cx + 3, t.x0 + 10) - greatest(r.cx - 3, t.x0))
       * greatest(0, least(r.cy + 3, t.y0 + 10) - greatest(r.cy - 3, t.y0)) AS a
  FROM rect r CROSS JOIN tiles t)
SELECT r.c_custkey,
       round(coalesce(s.total, 0.0), 6) AS zone_area
FROM rect r LEFT JOIN
  (SELECT c_custkey, sum(a) AS total FROM ov WHERE a > 1e-12 GROUP BY c_custkey) s
  USING (c_custkey)
""",
    tags=("J3",),
)
def j3_intersection_geom_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    rects = _customer_rects(spark, sf_dir)
    layer = _tile_layer(spark)
    clipped = intersection_geom(
        rects, layer, record_geom="prep", layer_geom="layer_prep", geom_dest="zone"
    )
    return clipped.select(
        F.col("identifier").cast("long").alias("c_custkey"),
        F.round(F.coalesce(K.st_area("zone"), F.lit(0.0)), 6).alias("zone_area"),
    )


# --- T1: geometric running difference (rows-only; full semantics in
# tests/test_spatial_operators.py — polygon difference is not
# SQL-expressible without a spatial extension) ------------------------------


@register(
    "t1_isochrone_subtraction_geo",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, (value % 50) + 1.0 AS r FROM events),
b AS (
  SELECT user_id, event_id, r, row_number() OVER (
    PARTITION BY user_id ORDER BY r ASC, event_id) AS bucket
  FROM ev),
k AS (
  SELECT user_id, bucket, r,
         lag(r) OVER (PARTITION BY user_id ORDER BY bucket) AS pr
  FROM b WHERE bucket <= 3)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
       round((2*r)*(2*r) - coalesce((2*pr)*(2*pr), 0.0), 6) AS ring_area
FROM k
""",
    tags=("T1", "overlay"),
)
def t1_isochrone_subtraction_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentric squares per user (side grows with value rank) minus
    their predecessor -> rings. The geometric lag-difference produces
    polygon-with-hole rings whose areas the oracle checks in closed
    form ((2r_k)² − (2r_{k−1})²); a duplicate radius yields an EMPTY
    ring (area 0), which the coalesced formula also gives."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", (F.col("value") % 50 + 1.0).alias("r")
    )
    # keep 3 buckets per user to bound the window
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("r").asc(), F.col("event_id"))
    buckets = ev.withColumn("bucket", F.row_number().over(w)).filter(
        F.col("bucket") <= 3
    )
    r = F.col("r")
    squares = buckets.withColumn(
        "geom",
        K.st_make_polygon(F.array(-r, r, r, -r), F.array(-r, -r, r, r)),
    )
    rings = isochrone_subtraction(squares, ["user_id"], ["bucket"])
    return rings.select(
        "user_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.round(K.st_area("geom"), 6).alias("ring_area"),
    )


# --- G7d: ETRS89-LAEA Europe (EPSG:3035) forward + roundtrip ----------------


def _laea_oracle() -> str:
    """Forward ellipsoidal LAEA (Snyder pp. 187-190) with the SAME
    derived constants as the kernel (``geo/ops.py`` LAEA_EUROPE,
    embedded via repr), rounded to 0.1 mm; roundtrip closure (iterative
    authalic-latitude inverse, not SQL-expressible) is a Spark-side
    boolean, exactly like the Lambert/UTM queries."""
    from terra_bonobo_nodes_spark.geo.ops import LAEA_EUROPE as P

    e, e2, qp = repr(P.e), repr(P.e2), repr(P.qp)
    sb1, cb1, rq, d = repr(P.sb1), repr(P.cb1), repr(P.rq), repr(P.d)
    lam0, x0, y0 = repr(P.lam0), repr(P.x0), repr(P.y0)
    q_expr = (
        f"(1.0 - {e2}) * (s / (1.0 - {e2} * s * s)"
        f" - (1.0 / (2.0 * {e})) * ln((1.0 - {e} * s) / (1.0 + {e} * s)))"
    )
    return f"""
WITH pts AS (
  SELECT event_id, ((value % 40) - 10) AS lon, ((value % 30) + 40) AS lat
  FROM events),
s1 AS (
  SELECT event_id, lon, lat, sin(radians(lat)) AS s,
         radians(lon) - {lam0} AS dlam
  FROM pts),
b1 AS (
  SELECT event_id, dlam,
         asin(least(1.0, greatest(-1.0, {q_expr} / {qp}))) AS beta
  FROM s1),
f AS (
  SELECT event_id, dlam, sin(beta) AS sb, cos(beta) AS cb,
         {rq} * sqrt(2.0 / (1.0 + {sb1} * sin(beta)
                            + {cb1} * cos(beta) * cos(dlam))) AS b
  FROM b1)
SELECT event_id,
       round({x0} + b * {d} * cb * sin(dlam), 4) AS lx,
       round({y0} + (b / {d}) * ({cb1} * sb - {sb1} * cb * cos(dlam)), 4) AS ly,
       TRUE AS rt_ok
FROM f
"""


# (g7d registration merged into g7_transform_surface, round 10)


def _polar_oracle() -> str:
    """Forward ellipsoidal polar stereographic (Snyder pp. 160-162)
    with the SAME derived constants as the kernel (``geo/ops.py``
    NSIDC_NORTH, embedded via repr), rounded to 0.1 mm; the iterative
    conformal-latitude inverse is checked as Spark-side roundtrip
    closure, exactly like the Lambert/UTM/LAEA queries."""
    from terra_bonobo_nodes_spark.geo.ops import NSIDC_NORTH as P

    e = repr(P.e)
    r = repr(P.a * P.mc / P.tc)  # rho = r * t(phi)
    lam0 = repr(P.lam0)
    return f"""
WITH pts AS (
  SELECT event_id, ((value % 360) - 180) AS lon, ((value % 30) + 55) AS lat
  FROM events),
s1 AS (
  SELECT event_id, radians(lon) - {lam0} AS dlam,
         radians(lat) AS phi, {e} * sin(radians(lat)) AS es
  FROM pts),
t1 AS (
  SELECT event_id, dlam,
         tan(pi() / 4.0 - phi / 2.0)
           / pow((1.0 - es) / (1.0 + es), {e} / 2.0) AS t
  FROM s1)
SELECT event_id,
       round({r} * t * sin(dlam), 4) + 0.0 AS px,
       round(-{r} * t * cos(dlam), 4) + 0.0 AS py,
       TRUE AS rt_ok
FROM t1
"""


# (g7e registration merged into g7_transform_surface, round 13 — the
# polar family rides the wide row as px/py below; _polar_oracle() is
# composed into _surface_oracle unchanged)


def _surface_oracle() -> str:
    """The five per-family closed forms composed on the shared
    one-row-per-event grain: each family's oracle stays byte-for-byte
    the arithmetic that was green for rounds 7-12 as its own query
    (identical double folding), joined on the unique ``event_id``.
    LAEA's lx/ly rename to ax/ay (they collided with Lambert's)."""
    return f"""
SELECT m.event_id, m.mx + 0.0 AS mx, m.my + 0.0 AS my,
       l.lx + 0.0 AS lx, l.ly + 0.0 AS ly,
       u.ux + 0.0 AS ux, u.uy + 0.0 AS uy,
       a.lx + 0.0 AS ax, a.ly + 0.0 AS ay, p.px, p.py,
       (l.rt_ok AND u.rt_ok AND a.rt_ok AND p.rt_ok) AS rt_ok
FROM ({_MERC_ORACLE}) m
JOIN ({_lambert93_oracle()}) l USING (event_id)
JOIN ({_utm31n_oracle()}) u USING (event_id)
JOIN ({_laea_oracle()}) a USING (event_id)
JOIN ({_polar_oracle()}) p USING (event_id)
"""


@register(
    "g7_transform_surface",
    oracle=_surface_oracle(),
    tags=("G7",),
)
def g7_transform_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransformGeom (``terra.py:474-494``) across the five CRS families
    in ONE wide projection — web-mercator (EPSG:3857) forward,
    Lambert-93 (2154), UTM 31N (32631) and ETRS89-LAEA (3035) forward +
    roundtrip closure < 1e-9 degrees, and (round-13 merge of the former
    g7e_transform_polar row, same event grain) NSIDC polar
    stereographic north (EPSG:3413) forward + modulo-360 roundtrip
    closure. The round-10 consolidation of the former g7/g7b/g7c/g7d
    rows plus the r13 polar fold (5 scans -> 1): per-family lon/lat
    derivations, kernel calls, and output arithmetic are byte-identical
    to the retired queries; only LAEA's output columns rename (lx/ly ->
    ax/ay) to coexist with Lambert's."""
    v = F.col("value")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((v % 360) - 180).alias("m_lon"), ((v % 170) - 85).alias("m_lat"),
        ((v % 15) - 5).alias("l_lon"), ((v % 10) + 41).alias("l_lat"),
        (v % 6).alias("u_lon"), ((v % 10) + 41).alias("u_lat"),
        ((v % 40) - 10).alias("a_lon"), ((v % 30) + 40).alias("a_lat"),
        ((v % 360) - 180).alias("p_lon"), ((v % 30) + 55).alias("p_lat"),
    )
    df = ev
    for fam, epsg, rt in (
        ("m", "EPSG:3857", False),
        ("l", "EPSG:2154", True),
        ("u", "EPSG:32631", True),
        ("a", "EPSG:3035", True),
        ("p", "EPSG:3413", True),
    ):
        df = df.withColumn(f"{fam}_geom", K.st_point(f"{fam}_lon", f"{fam}_lat"))
        df = transform_geom(df, "EPSG:4326", epsg, geom_in=f"{fam}_geom")
        if rt:
            df = transform_geom(
                df, epsg, "EPSG:4326",
                geom_in=f"{fam}_geom", geom_out=f"{fam}_back",
            )

    # fused coordinate reads (r18): st_xy = one parse per geometry
    # where st_x + st_y paid two
    def _rt_err(fam: str):
        xy = K.st_xy(f"{fam}_back")
        return F.greatest(
            F.abs(xy["x"] - F.col(f"{fam}_lon")),
            F.abs(xy["y"] - F.col(f"{fam}_lat")),
        )

    # polar longitude closure is modulo 360 (the inverse returns
    # (-180, 180]: lon = -180 legitimately comes back as +180)
    p_xy = K.st_xy("p_back")
    p_rt_err = F.greatest(
        F.abs(F.pmod(p_xy["x"] - F.col("p_lon") + 180.0, 360.0) - 180.0),
        F.abs(p_xy["y"] - F.col("p_lat")),
    )
    rt_ok = (
        (_rt_err("l") < 1e-9) & (_rt_err("u") < 1e-9) & (_rt_err("a") < 1e-9)
        & (p_rt_err < 1e-9)
    )
    # + 0.0 on EVERY coordinate normalizes IEEE negative zero
    # (round(-1e-10, 4) is -0.0 in DuckDB, 0.0 in Spark ->
    # canonicalized-string mismatch). Originally only the polar pair
    # carried it; the r13 sf0.1 sweep caught web-mercator my = -0 on
    # 3 of 100K rows (equator-adjacent latitudes sf0.01 never hits),
    # so all five families normalize on both sides now.
    z = F.lit(0.0)
    fxy = {fam: K.st_xy(f"{fam}_geom") for fam in "mluap"}
    return df.select(
        "event_id",
        (F.round(fxy["m"]["x"], 4) + z).alias("mx"),
        (F.round(fxy["m"]["y"], 4) + z).alias("my"),
        (F.round(fxy["l"]["x"], 4) + z).alias("lx"),
        (F.round(fxy["l"]["y"], 4) + z).alias("ly"),
        (F.round(fxy["u"]["x"], 4) + z).alias("ux"),
        (F.round(fxy["u"]["y"], 4) + z).alias("uy"),
        (F.round(fxy["a"]["x"], 4) + z).alias("ax"),
        (F.round(fxy["a"]["y"], 4) + z).alias("ay"),
        (F.round(fxy["p"]["x"], 4) + z).alias("px"),
        (F.round(fxy["p"]["y"], 4) + z).alias("py"),
        rt_ok.alias("rt_ok"),
    )


# spatial_zorder_code RETIRED round 17 into the registered
# layout_zorder_pruning (plans/queries_candidates.py): the pruning
# measurement exercises the SAME morton_code interleave (its zone maps
# key on the code) AND adds the scan-count value the code row lacked —
# how many files a z-range probe actually touches. Ledger item 4.
