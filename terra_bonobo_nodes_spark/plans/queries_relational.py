"""Correctness queries: record/relational core (SURVEY.md §2.3/2.5-2.7).

Cross-engine determinism rules (see registry docstring): float sums are
computed as ``SUM(CAST(x AS DECIMAL(20,6)))`` cast back to double —
exact and reduction-order-insensitive, so Spark and DuckDB produce
bit-identical doubles; row-level arithmetic keeps identical expression
shape (explicit ``dx*dx`` instead of ``pow``) so IEEE semantics give
identical results without rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.operators.clustering import collect_and_sum, grid_cluster
from terra_bonobo_nodes_spark.operators.hstore import parse_hstore_tags
from terra_bonobo_nodes_spark.operators.joins import attribute_from_sql, knn_join
from terra_bonobo_nodes_spark.operators.stateful import (
    clean_older_than,
    running_lag_diff,
    upsert_last_writer_wins,
)
from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.tables import load_table, spread_small_scan


def dsum(col: Column | str, alias: str) -> Column:
    """Exact float sum: decimal-cast accumulate, double result.

    Reduction order no longer matters, so Spark's partial aggregation
    and DuckDB's sequential sum agree bitwise.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(20,6)")).cast("double").alias(alias)


DSUM_SQL = "CAST(SUM(CAST({x} AS DECIMAL(20,6))) AS DOUBLE) AS {alias}"


def _events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> synthetic lon/lat points (FIXTURES.md F1 recipe)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        ((F.col("value") % 360) - 180).alias("x"),
        ((F.col("value") % 170) - 85).alias("y"),
    )


EVENTS_POINTS_SQL = """
SELECT event_id, user_id, event_type, value, ts,
       ((value % 360) - 180) AS x, ((value % 170) - 85) AS y
FROM events
"""


# --- A4 + A1: grid clustering + collect-and-sum (flagship) -----------------


@register(
    "a4_grid_cluster_collect_sum",
    oracle=f"""
WITH pts AS ({EVENTS_POINTS_SQL})
SELECT CAST(floor(x / 10.0) AS BIGINT) AS cell_x,
       CAST(floor(y / 10.0) AS BIGINT) AS cell_y,
       count(*) AS point_count,
       count(DISTINCT event_id) AS n_ids,
       {DSUM_SQL.format(x="value", alias="sum_value")}
FROM pts GROUP BY 1, 2
""",
    headline=True,
    tags=("A4", "A1"),
)
def a4_grid_cluster_collect_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _events_points(spark, sf_dir)
    clustered = grid_cluster(pts, "x", "y", 10.0)
    return collect_and_sum(
        clustered, ["cell_x", "cell_y"], "event_id", {"value": "sum_value"}
    )


@register(
    "a4_sql_text_cluster",
    oracle=f"""
WITH pts AS (
SELECT event_id, value,
       ((value % 360) - 180) AS x, ((value % 170) - 85) AS y
FROM events
)
SELECT CAST(floor(x / 10.0) * 10.0 AS DOUBLE) AS gx,
       CAST(floor(y / 10.0) * 10.0 AS DOUBLE) AS gy,
       count(*) AS point_count,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids,
       {DSUM_SQL.format(x="value", alias="sum_value")}
FROM pts GROUP BY 1, 2
""",
    tags=("A4", "sql-text"),
)
def a4_sql_text_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LayerClusters node is raw SQL TEXT over PostGIS
    (``terra.py:54-64``: ``array_agg(id) ... GROUP BY
    ST_SnapToGrid(ST_Transform(geom, srid), size)``) — this query runs
    that exact shape as a ``spark.sql`` string through
    ``register_st_sql``'s ST_* surface, proving the SQL-text entry path
    end to end (the Column-form equivalent is
    ``a4_grid_cluster_collect_sum``). The snapped corner comes back via
    ST_X/ST_Y (floor-corner snap, ``geo/ops.py::snap_to_grid``) so the
    grouping key is plain doubles, not engine-formatted WKT."""
    from terra_bonobo_nodes_spark.geo.kernels import register_st_sql

    register_st_sql(spark)
    _events_points(spark, sf_dir).createOrReplaceTempView("tbns_a4_pts")
    return spark.sql(
        """
        SELECT ST_X(cell) AS gx,
               ST_Y(cell) AS gy,
               count(*) AS point_count,
               concat_ws(',',
                   transform(sort_array(collect_list(event_id)),
                             v -> CAST(v AS STRING))) AS ids,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        FROM (
            SELECT event_id, value,
                   ST_SnapToGrid(ST_Point(x, y), 10.0) AS cell
            FROM tbns_a4_pts
        )
        GROUP BY cell
        """
    )


# --- P1-P9/P11: record ops --------------------------------------------------
# The NINE standalone record-op rows (p1_identifier_from_property,
# p2_generate_identifier_md5, p3_exclude_attributes,
# p4_filter_attributes, p5_filter_by_properties, p6_map_properties,
# p7_min_array_attribute, p9_drop_identifier, p11_accessibility_ratio)
# RETIRED round 17 into the registered p_record_ops_surface
# (plans/queries_candidates.py) — every op's oracle check kept verbatim
# as a column at ONE lineitem grain (the fn_scalar_surface /
# g7_transform_surface consolidation precedent; VERDICT_r15 "What's
# wrong" #1). Each operator keeps its own unit coverage in
# tests/test_operators.py; P10 stays below — a real parser, not a
# projection. Ledger item 1.


# --- P10: hstore parsing ----------------------------------------------------


@register(
    "p10_hstore_parse",
    oracle="""
SELECT event_id, CAST(event_id AS VARCHAR) AS tag_id, event_type AS tag_type
FROM events
""",
    tags=("P10",),
)
def p10_hstore_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    hstore = F.concat(
        F.lit('"id"=>"'),
        F.col("event_id").cast("string"),
        F.lit('","type"=>"'),
        F.col("event_type"),
        F.lit('"'),
    )
    tagged = ev.withColumn("other_tags", hstore)
    parsed = parse_hstore_tags(tagged, "other_tags", keys=["id", "type"])
    return parsed.select("event_id", "tag_id", "tag_type")


# --- T1: running lag difference --------------------------------------------


@register(
    "t1_running_lag_diff",
    oracle="""
SELECT event_id, user_id,
       (value - coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         0.0)) AS diff
FROM events
""",
    tags=("T1",),
)
def t1_running_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    out = running_lag_diff(ev, ["user_id"], ["ts", "event_id"], "value")
    return out.select("event_id", "user_id", "diff")


# --- K1: upsert last-writer-wins -------------------------------------------


@register(
    "k1_upsert_last_writer_wins",
    oracle="""
SELECT user_id, event_id AS last_event_id, value AS last_value
FROM (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn
      FROM events) WHERE rn = 1
""",
    tags=("K1",),
)
def k1_upsert_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    deduped = upsert_last_writer_wins(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return deduped.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


# --- K5: retention ----------------------------------------------------------


@register(
    "k5_retention_filter",
    oracle=f"""
SELECT event_type, count(*) AS n, {DSUM_SQL.format(x="value", alias="sum_value")}
FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type
""",
    tags=("K5",),
)
def k5_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    kept = clean_older_than(ev, "ts", "2024-01-15 00:00:00")
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )


# --- J4: kNN top-k join -----------------------------------------------------


@register(
    "j4_knn_closest_features",
    oracle="""
WITH c AS (SELECT c_custkey, (c_acctbal % 100.0) AS cx,
                  CAST(c_custkey % 100 AS DOUBLE) AS cy FROM customer),
     s AS (SELECT s_suppkey, (s_acctbal % 100.0) AS sx,
                  CAST(s_suppkey % 100 AS DOUBLE) AS sy FROM supplier),
     pairs AS (
       SELECT c.c_custkey, s.s_suppkey,
              sqrt((c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy))
                AS distance
       FROM c CROSS JOIN s),
     ranked AS (
       SELECT c_custkey, s_suppkey, distance,
              row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY distance, s_suppkey) AS rank
       FROM pairs WHERE distance < 25.0)
SELECT c_custkey, s_suppkey, distance, rank FROM ranked WHERE rank <= 3
""",
    headline=True,
    tags=("J4",),
)
def j4_knn_closest_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") % 100.0).alias("cx"),
        (F.col("c_custkey") % 100).cast("double").alias("cy"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") % 100.0).alias("sx"),
        (F.col("s_suppkey") % 100).cast("double").alias("sy"),
    )
    out = knn_join(
        cust,
        supp,
        left_xy=("cx", "cy"),
        right_xy=("sx", "sy"),
        left_id="c_custkey",
        k=3,
        max_distance=25.0,
        tie_breaker="s_suppkey",
    )
    return out.select("c_custkey", "s_suppkey", "distance", "rank")


@register(
    "j4_knn_list_grid",
    oracle="""
WITH c AS (SELECT c_custkey, (c_acctbal % 100.0) AS cx,
                  CAST(c_custkey % 100 AS DOUBLE) AS cy FROM customer),
     s AS (SELECT s_suppkey, (s_acctbal % 100.0) AS sx,
                  CAST(s_suppkey % 100 AS DOUBLE) AS sy FROM supplier),
     pairs AS (
       SELECT c.c_custkey, s.s_suppkey,
              sqrt((c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy))
                AS distance
       FROM c CROSS JOIN s),
     ranked AS (
       SELECT c_custkey, s_suppkey, distance,
              row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY distance, s_suppkey) AS rank
       FROM pairs WHERE distance < 25.0)
SELECT c_custkey,
       array_to_string(list(s_suppkey ORDER BY rank), ',') AS closests,
       array_to_string(list(s_suppkey ORDER BY rank), ',') AS closests_grid
FROM ranked WHERE rank <= 3 GROUP BY c_custkey
""",
    tags=("J4", "scale"),
)
def j4_knn_list_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OUTPUT shape for ClosestFeatures — the k nearest
    appended as an ordered LIST on the record (``closests``,
    ``terra.py:326-328``) — computed through BOTH physical plans of
    ``knn_join`` on one row: ``closests`` ranks via the broadcast plan
    (``cell=None``); ``closests_grid`` re-answers with ``cell=25.0`` —
    both sides bucketed into max_distance-sized cells, left replicated
    into its 3x3 neighborhood, equi-join on the cell key instead of a
    cross product (the big-big scale path). The oracle is the NAIVE
    cross-join top-k emitted twice, so the row proves the grid join
    loses no neighbors within the radius AND that both plans match the
    SQL ground truth. collect_list is order-nondeterministic, so each
    list is rebuilt deterministically: collect (rank, id) structs,
    sort_array, project the ids."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") % 100.0).alias("cx"),
        (F.col("c_custkey") % 100).cast("double").alias("cy"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") % 100.0).alias("sx"),
        (F.col("s_suppkey") % 100).cast("double").alias("sy"),
    )
    kw = dict(
        left_xy=("cx", "cy"),
        right_xy=("sx", "sy"),
        left_id="c_custkey",
        k=3,
        max_distance=25.0,
        tie_breaker="s_suppkey",
    )

    def as_list(ranked: DataFrame, out: str) -> DataFrame:
        closests = F.transform(
            F.sort_array(F.collect_list(F.struct("rank", "s_suppkey"))),
            lambda x: x["s_suppkey"].cast("string"),
        )
        # serialized as a joined string: array-valued result columns are
        # comparator-hostile (pandas/duckdb round-trip them as ndarrays)
        return ranked.groupBy("c_custkey").agg(
            F.array_join(closests, ",").alias(out)
        )

    bcast = as_list(knn_join(cust, supp, **kw), "closests")
    grid = as_list(knn_join(cust, supp, cell=25.0, **kw), "closests_grid")
    # both plans emit exactly the customers with >=1 neighbor in
    # radius, so the combining join is key-equal inner
    return bcast.join(grid, on="c_custkey")


# --- J5: decorrelated per-row subquery enrichment ---------------------------


@register(
    "j5_attribute_from_sql",
    oracle="""
SELECT o.o_orderkey,
       count(l.l_orderkey) AS n_items,
       CAST(coalesce(SUM(CAST(l.l_quantity AS DECIMAL(20,6))), 0) AS DOUBLE)
         AS sum_qty
FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey
""",
    headline=True,
    tags=("J5",),
)
def j5_attribute_from_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    # NOT spread (measured both ways r17, no change): the cost is the
    # broadcast build of the per-order arrays + the per-row decimal
    # fold, not the single-task partial aggregate
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    enriched = attribute_from_sql(
        orders, li, parent_key="o_orderkey", child_key="l_orderkey", attr="items"
    )
    zero = F.lit(0).cast("decimal(20,6)")
    return enriched.select(
        "o_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.aggregate(
            "items",
            zero,
            lambda acc, x: (acc + x["l_quantity"].cast("decimal(20,6)")).cast(
                "decimal(20,6)"
            ),
        )
        .cast("double")
        .alias("sum_qty"),
    )


# --- engine surface: TPC-H Q1 pricing summary (headline) --------------------


@register(
    "tpch_q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,6)))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)
                     AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
    tags=("surface", "tpch"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-task scan so the decimal partial aggregation
    # parallelizes (guide §2.5; decimal sums are order-exact)
    li = spread_small_scan(load_table(spark, sf_dir, "lineitem"))
    disc_price = "l_extendedprice * (1.0D - l_discount)"
    charge = f"{disc_price} * (1.0D + l_tax)"
    # parsed SQL: about 3 py4j round trips per expression, not ~12 per Column op
    return (
        li.where("l_shipdate <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(DSUM_SQL.format(x="l_quantity", alias="sum_qty")),
            F.expr(DSUM_SQL.format(x="l_extendedprice", alias="sum_base_price")),
            F.expr(DSUM_SQL.format(x=disc_price, alias="sum_disc_price")),
            F.expr(DSUM_SQL.format(x=charge, alias="sum_charge")),
            F.expr("count(1) AS count_order"),
        )
    )


# --- engine surface: top-k per group via window -----------------------------


@register(
    "topk_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 2
""",
    tags=("surface", "window"),
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return orders.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 2)


# --- engine surface: star join with broadcast dims --------------------------


@register(
    "star_join_revenue_by_region",
    oracle="""
SELECT r.r_name AS region_name,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    headline=True,
    tags=("surface", "join"),
)
def star_join_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H column names are unique across the four tables, so parsed
    # join conditions resolve by name; column pruning reaches the scans
    orders, cust, nation, region = (
        load_table(spark, sf_dir, t) for t in ("orders", "customer", "nation", "region")
    )
    joined = (
        orders.join(F.broadcast(cust), F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(nation), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
    )
    return joined.groupBy(F.expr("r_name AS region_name")).agg(
        F.expr(DSUM_SQL.format(x="o_totalprice", alias="revenue")),
        F.expr("count(1) AS n_orders"),
    )


# --- engine surface: rollup -------------------------------------------------


@register(
    "rollup_order_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    tags=("surface", "rollup"),
)
def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- standard surface: set operations + semi/anti joins ----------------------


@register(
    "setops_customer_segments",
    oracle="""
WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM hi UNION SELECT * FROM auto)
UNION ALL
SELECT 'intersect', count(*) FROM (SELECT * FROM hi INTERSECT SELECT * FROM auto)
UNION ALL
SELECT 'except', count(*) FROM (SELECT * FROM hi EXCEPT SELECT * FROM auto)
""",
    tags=("surface", "setops"),
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT — distinct set semantics on both engines."""
    cust = load_table(spark, sf_dir, "customer")
    hi = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    auto = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    counts = [
        ("union", hi.union(auto).distinct()),
        ("intersect", hi.intersect(auto)),
        ("except", hi.exceptAll(auto).distinct()),
    ]
    rows = None
    for op, df in counts:
        one = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        rows = one if rows is None else rows.unionByName(one)
    return rows


@register(
    "semi_anti_orders_with_returns",
    oracle="""
SELECT o.o_orderstatus,
       count(*) FILTER (WHERE EXISTS (
         SELECT 1 FROM lineitem l
         WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')) AS with_returns,
       count(*) FILTER (WHERE NOT EXISTS (
         SELECT 1 FROM lineitem l
         WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')) AS without_returns
FROM orders o
GROUP BY 1
""",
    tags=("surface", "join"),
)
def semi_anti_orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS/NOT EXISTS as left_semi/left_anti joins — Catalyst's native
    subquery decorrelation, counted per order status."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    semi = (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("with_returns"))
    )
    anti = (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("without_returns"))
    )
    return (
        semi.join(anti, "o_orderstatus", "full")
        .select(
            "o_orderstatus",
            F.coalesce("with_returns", F.lit(0)).alias("with_returns"),
            F.coalesce("without_returns", F.lit(0)).alias("without_returns"),
        )
    )


@register(
    "cube_returnflag_status",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS flag,
       coalesce(l_linestatus, 'ALL') AS status,
       count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("surface", "cube"),
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — a capability the reference lacks entirely
    (SURVEY §2.5 note); Spark plans it as one expand + aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity", "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "sum_qty",
        )
    )


# --- as-of (point-in-time) join ---------------------------------------------


# asof_purchase_last_view + asof_forward_next_click MERGED round 14
# into ONE (kind, event_id)-grain row (the e2/e3 transit-time
# precedent): both directions of operators/joins.asof_join run —
# backward (purchase -> same user's latest view at or before) and
# forward (error -> earliest click at or after) — union-tagged by
# kind, each verified against DuckDB's native ASOF LEFT JOIN of the
# matching direction. Identical per-function coverage in one slot;
# value columns exist only on the backward side (the forward events
# projection never carried them) and are NULL on forward rows.
@register(
    "asof_event_joins",
    headline=True,
    oracle="""
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
back AS (
  SELECT 'backward' AS kind, p.event_id, p.user_id,
         epoch_us(p.ts) AS ts_us,
         round(p.value, 6) AS left_value,
         v.event_id AS matched_event_id,
         epoch_us(v.ts) AS matched_ts_us,
         round(v.value, 6) AS matched_value
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
), fwd AS (
  SELECT 'forward' AS kind, e.event_id, e.user_id,
         epoch_us(e.ts) AS ts_us,
         CAST(NULL AS DOUBLE) AS left_value,
         c.event_id AS matched_event_id,
         epoch_us(c.ts) AS matched_ts_us,
         CAST(NULL AS DOUBLE) AS matched_value
  FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts <= c.ts
)
SELECT * FROM back UNION ALL SELECT * FROM fwd
""",
    tags=("join", "asof"),
)
def asof_event_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both as-of directions, oracle-checked against DuckDB's native
    ASOF LEFT JOIN: for every purchase the same user's latest view at
    or before it (backward), and for every error the same user's
    earliest click at or after it (forward — the time-to-recovery
    join). Same single-shuffle tagged-union window plan in each
    direction; timestamps exported as epoch micros (exact integers)."""
    from terra_bonobo_nodes_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    back = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        suffix="_view",
    ).select(
        F.lit("backward").alias("kind"),
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("left_value"),
        F.col("event_id_view").alias("matched_event_id"),
        F.unix_micros("ts_view").alias("matched_ts_us"),
        F.round("value_view", 6).alias("matched_value"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    fwd = asof_join(
        errors, clicks, on="user_id", left_ts="ts", right_ts="ts",
        direction="forward", suffix="_click",
    ).select(
        F.lit("forward").alias("kind"),
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.lit(None).cast("double").alias("left_value"),
        F.col("event_id_click").alias("matched_event_id"),
        F.unix_micros("ts_click").alias("matched_ts_us"),
        F.lit(None).cast("double").alias("matched_value"),
    )
    return back.unionAll(fwd)


@register(
    "range_join_clicks_after_error",
    headline=True,
    oracle="""
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
m AS (
  SELECT e.event_id, e.user_id, count(*) AS n_clicks
  FROM e JOIN c
    ON c.user_id = e.user_id
   AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL '10 minutes'
  GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, coalesce(m.n_clicks, 0) AS n_clicks
FROM e LEFT JOIN m ON m.event_id = e.event_id AND m.user_id = e.user_id
""",
    tags=("join", "range"),
)
def range_join_clicks_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join checked against DuckDB's exact theta join:
    count clicks within 10 minutes after each error event per user.
    The Spark plan is one equi-join on (bucket, user) — no theta join."""
    from terra_bonobo_nodes_spark.operators.joins import interval_point_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    matches = interval_point_join(
        errors, clicks, "start_ts", "end_ts", "ts", on="user_id", bucket_seconds=600.0
    )
    counts = matches.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )
    return (
        errors.select("event_id", "user_id")
        .join(counts, ["event_id", "user_id"], "left")
        .withColumn("n_clicks", F.coalesce(F.col("n_clicks"), F.lit(0)))
    )


# --- pivot / unpivot --------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user value totals via Catalyst's pivot (one shuffle with
    partial aggregation; the pivot column list is explicit so no extra
    distinct-values job runs). Missing (user, type) combos stay NULL on
    both engines. Registration merged into unpivot_roundtrip (round 13):
    the NULL-keeping melt there surfaces every wide cell — including the
    absent-combo NULL semantics this row used to pin — as a long row."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.sum(F.col("value").cast("decimal(20,6)")).cast("double"))
    )


@register(
    "unpivot_roundtrip",
    oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events),
t AS (SELECT * FROM (VALUES ('click'), ('error'), ('purchase'),
                            ('signup'), ('view')) AS t(event_type)),
s AS (SELECT user_id, event_type,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY user_id, event_type)
SELECT u.user_id, t.event_type, s.sum_value
FROM u CROSS JOIN t
LEFT JOIN s ON s.user_id = u.user_id AND s.event_type = t.event_type
""",
    tags=("relational", "pivot"),
)
def unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot(pivot(events)) == the full user x type grid of direct
    sums — the round-13 merge of the former pivot_value_by_event_type
    row (same underlying aggregate). The melt KEEPS NULL cells, so the
    long result enumerates every cell of the wide pivot — one row per
    (user, declared type), sum_value NULL exactly where the combo is
    absent from events — and a single hash pins BOTH the pivot's wide
    semantics (NULL fill included) and unpivot's inverse. The oracle
    rebuilds that grid as users x VALUES-list LEFT JOIN the direct
    GROUP BY (the cross join is DuckDB-side only; the Spark plan stays
    pivot -> Expand, no join)."""
    wide = pivot_value_by_event_type(spark, sf_dir)
    return wide.unpivot("user_id", list(_EVENT_TYPES), "event_type", "sum_value")


@register(
    "tpch_q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,6)))
            AS DOUBLE) AS revenue,
       CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
    headline=True,
    tags=("tpch", "join"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority, o_orderpriority standing in for the
    schema's missing o_shippriority): selective dimension filter
    broadcasts into the fact join, revenue decimal-accumulated, global
    top-10 via orderBy+limit — Spark plans TakeOrderedAndProject (per-
    partition heaps + driver merge), NOT a single-partition sort, so the
    top-k is scale-safe. Tie-break on l_orderkey keeps the cut
    deterministic across engines."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "tpch_q17_small_quantity",
    oracle="""
SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / 7.0,
             4) AS avg_yearly,
       count(*) AS n_small
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND CAST(l.l_quantity AS DECIMAL(20,6)) * 5
      * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(20,6)))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
    tags=("tpch", "subquery"),
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), written as the
    CORRELATED scalar-subquery SQL and handed to Catalyst, which
    decorrelates both subqueries into per-part aggregates joined back —
    no per-row re-scan survives in the physical plan (the plan audit
    rejects any nested-loop fallback). The `qty < 0.2*avg` predicate is
    restated in exact integer/decimal arithmetic (`qty*5*n < sum`) so
    neither engine evaluates a float boundary."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql("""
SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / 7.0,
             4) AS avg_yearly,
       count(*) AS n_small
FROM q17_lineitem l JOIN q17_part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND CAST(l.l_quantity AS DECIMAL(20,6)) * 5
      * (SELECT count(*) FROM q17_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(20,6)))
         FROM q17_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""")


_TREND_EPOCH_OFF = 1704067200  # epoch seconds of 2024-01-01 00:00:00 UTC


@register(
    "t5_user_value_trend",
    oracle=f"""
WITH b AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - {_TREND_EPOCH_OFF} AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT user_id, count(*) AS n,
         SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,6))) AS sx,
         SUM(CAST(CAST(y AS DOUBLE) AS DECIMAL(38,6))) AS sy,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(38,6))) AS sxy,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,6))) AS sxx
  FROM b GROUP BY 1),
s AS (
  SELECT user_id, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         CAST(sxx AS DOUBLE) AS sxxd
  FROM m),
t AS (
  SELECT user_id, n, nd, sxd, syd,
         CASE WHEN nd * sxxd - sxd * sxd != 0.0
              THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
              ELSE 0.0 END AS slope
  FROM s)
SELECT user_id, n,
       round(slope * 86400.0 / 100.0, 6) AS slope_per_day,
       round((syd - slope * sxd) / nd / 100.0, 6) AS intercept_value
FROM t
""",
    tags=("stateful", "trend"),
)
def t5_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend (operators/stateful.linear_trend): the
    drift feature over event streams, from DECIMAL-exact integral
    moments (x = epoch seconds offset to the corpus origin, y = value
    in cents) so every engine and partitioning produces the same
    slope bit-for-bit; slope rescaled to value/day in the projection."""
    from terra_bonobo_nodes_spark.operators.stateful import linear_trend

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_timestamp("ts") - F.lit(_TREND_EPOCH_OFF)).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    t = linear_trend(ev, ["user_id"], F.col("x"), F.col("y"))
    return t.select(
        "user_id",
        "n",
        F.round(F.col("slope") * 86400.0 / 100.0, 6).alias("slope_per_day"),
        F.round(F.col("intercept") / 100.0, 6).alias("intercept_value"),
    )


# funnel_view_click_purchase RETIRED round 16 into the registered
# events_conversion_funnel (plans/queries_candidates.py — the
# ordered-step generalization: same events source, any step list, one
# groupBy(user) pass + sorted-array fold instead of a join-back per
# stage). cohort_daily_retention RETIRED the same round into the
# registered events_cohort_retention (the weekly retention triangle at
# report grain; operators/funnels.py carries both operators with their
# SQL mirrors, pinned by tests/test_funnels.py). Ledger items 3-4.


@register(
    "weighted_median_price",
    oracle="""
WITH pv AS (
  SELECT l_returnflag, l_extendedprice AS v,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2),
c AS (
  SELECT l_returnflag, v, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v ASC
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM pv)
SELECT l_returnflag, min(v) AS w_median
FROM c WHERE 2 * cum >= tot
GROUP BY 1
""",
    tags=("analytics", "aggregate"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag
    (operators/stateful.weighted_median). The integer 2*cum >= tot
    decision makes the selection float-division-free, so the chosen
    value is identical on every engine and partitioning."""
    from terra_bonobo_nodes_spark.operators.stateful import weighted_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_median(
        li, ["l_returnflag"], F.col("l_extendedprice"), F.col("l_quantity")
    )


_COV_WIN = 300  # each event covers [ts, ts+300s)


@register(
    "interval_union_coverage",
    headline=True,
    oracle=f"""
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {_COV_WIN} AS e
  FROM events),
m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv),
isl AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM m),
u AS (
  SELECT user_id, island, min(s) AS s0, max(e) AS e1
  FROM isl GROUP BY 1, 2)
SELECT user_id,
       count(*) AS n_islands,
       CAST(SUM(e1 - s0) AS BIGINT) AS covered_seconds
FROM u GROUP BY 1
""",
    tags=("analytics", "interval"),
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping per-user activity intervals
    (gaps-and-islands): each event covers 5 minutes; overlapping covers
    merge, and the query reports islands + total covered seconds in
    exact BIGINT arithmetic. One window pass per user ordered by start
    — the standard time-in-state computation, never an interval
    self-join."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + _COV_WIN).alias("e"),
    )
    w_order = Window.partitionBy("user_id").orderBy(F.col("s").asc(), F.col("e").asc())
    prev_max = F.max("e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("_new").over(w_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    u = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1")
    )
    return u.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("e1") - F.col("s0")).alias("covered_seconds"),
    )


# Both user_id joins are null-safe: Spark's groupBy + applyInPandas keeps
# a NULL user_id as a group of its own, so the oracle must keep it too.
_ISO_ORACLE = """
WITH RECURSIVE
_iso_rows AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS x,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY floor(epoch(ts)), round(value * 100, 0)) AS pos
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
-- PAVA itself, one leftmost block-merge per user per recursion step:
-- valid because the isotonic solution is UNIQUE and pooling is
-- confluent, so any merge order converges to the same blocks. The
-- violation test is integer cross-multiplication (num/den fractions
-- of cent sums over row counts) — no float anywhere, which is what
-- makes this oracle exact where round 13's minimax float form wasn't.
_iso_blocks(user_id, s, e, num, den, step) AS (
  SELECT user_id, pos, pos, cents, CAST(1 AS BIGINT), 0 FROM _iso_rows
  UNION ALL
  SELECT user_id,
         s,
         CASE WHEN s = ls THEN ne ELSE e END,
         CASE WHEN s = ls THEN num + nnum ELSE num END,
         CASE WHEN s = ls THEN den + nden ELSE den END,
         step + 1
  FROM (
    SELECT *,
           min(CASE WHEN num * nden > nnum * den THEN s END)
             OVER (PARTITION BY user_id) AS ls
    FROM (
      SELECT user_id, s, e, num, den, step,
             lead(e)   OVER w AS ne,
             lead(num) OVER w AS nnum,
             lead(den) OVER w AS nden,
             lag(s)    OVER w AS ps
      FROM _iso_blocks
      WINDOW w AS (PARTITION BY user_id ORDER BY s)
    )
  )
  WHERE ls IS NOT NULL AND (ps IS NULL OR ps <> ls)
),
_iso_final AS (
  SELECT b.* FROM _iso_blocks b
  JOIN (SELECT user_id, max(step) AS ms FROM _iso_blocks GROUP BY 1) m
    ON m.user_id IS NOT DISTINCT FROM b.user_id AND m.ms = b.step
)
SELECT r.user_id, r.x, (10 * f.num) // f.den AS y_iso_milli
FROM _iso_rows r
JOIN _iso_final f
  ON f.user_id IS NOT DISTINCT FROM r.user_id AND r.pos BETWEEN f.s AND f.e
"""


@register(
    "t6_isotonic_value_fit",
    oracle=_ISO_ORACLE,
    tags=("analytics", "grouped-map"),
)
def t6_isotonic_value_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user isotonic (monotone non-decreasing) fit of event value
    over time via the PAVA grouped-map operator — the applyInPandas
    extension point exercised end-to-end, surfaced in EXACT integer
    milli-units: ``y_iso_milli = (10 * block_cent_sum) div block_count``
    (operators/grouped.isotonic_fit_milli).

    History: round 13 built a minimax-closed-form float oracle and
    rejected it on evidence (3.2% of rows hash-mismatched at 4
    decimals — block means are rationals that sit exactly on decimal
    rounding boundaries, where pooling-vs-minimax float noise decides
    the digit; analysis in PLANS.md round 13), so the row ran
    rows-only through round 14. Round 15 removes the float from BOTH
    engines instead of fighting it: the fit runs integer-exact
    (cent sums / row counts as fractions, cross-multiplication
    comparisons), the oracle replays PAVA itself as a RECURSIVE CTE
    (one leftmost merge per user per step — confluence makes merge
    order irrelevant), and floors of exact fractions have no noise to
    decide. Full value-hash parity verified at all three SFs; the
    float-surface form remains available as
    operators/grouped.isotonic_fit."""
    from terra_bonobo_nodes_spark.operators.grouped import isotonic_fit_milli

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("x"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    out = isotonic_fit_milli(ev, ["user_id"], "x", "cents")
    return out.select("user_id", "x", "y_iso_milli")


@register(
    "dq_lineitem_constraints",
    oracle="""
WITH base AS (
  SELECT count(*) AS n_rows,
         CAST(SUM(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
                         OR l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_qty_range,
         CAST(SUM(CASE WHEN NOT (l_extendedprice > 0)
                         OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_price_positive,
         CAST(SUM(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 1)
                         OR l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_discount_unit,
         CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_shipdate_set,
         CAST(SUM(CASE WHEN NOT (l_quantity <= 30)
                         OR l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_qty_le_30
  FROM lineitem)
SELECT u.check, base.n_rows, u.n_violations, u.n_violations = 0 AS passed
FROM base, (
  SELECT 'qty_range' AS check, v_qty_range AS n_violations FROM base
  UNION ALL SELECT 'price_positive', v_price_positive FROM base
  UNION ALL SELECT 'discount_unit', v_discount_unit FROM base
  UNION ALL SELECT 'shipdate_set', v_shipdate_set FROM base
  UNION ALL SELECT 'qty_le_30', v_qty_le_30 FROM base) u
""",
    tags=("quality",),
)
def dq_lineitem_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation (operators/quality.py): five
    invariants over lineitem verified in ONE aggregate scan (N checks,
    one pass); the qty<=30 check is deliberately violated so the
    violation-counting path is exercised, not just the all-green path."""
    from terra_bonobo_nodes_spark.operators.quality import check_constraints

    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return check_constraints(
        li,
        {
            "qty_range": (q >= 1) & (q <= 50),
            "price_positive": F.col("l_extendedprice") > 0,
            "discount_unit": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
            "shipdate_set": F.col("l_shipdate").isNotNull(),
            "qty_le_30": q <= 30,
        },
    )


@register(
    "skew_salted_join_rollup",
    oracle="""
SELECT n.n_name, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM events e JOIN nation n ON CAST(e.user_id % 5 AS INTEGER) = n.n_nationkey
GROUP BY 1
""",
    tags=("join", "skew"),
)
def skew_salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew remedy end-to-end (operators/joins.salted_join): the
    user_id%5 key squeezes all events onto FIVE hot join keys; salting
    splits each across 16 (key, salt) buckets while replicating the
    5-row dimension 16x. The oracle is the plain join — salting must be
    invisible in the result, visible only in the shuffle layout."""
    from terra_bonobo_nodes_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("value"),
        (F.col("user_id") % 5).cast("int").alias("k"),
    )
    dim = (
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") < 5)
        .select(F.col("n_nationkey").alias("k"), "n_name")
    )
    joined = salted_join(ev, dim, "k", salt_buckets=16)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
    )


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type, next_type, count(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
""",
    tags=("analytics", "sequence"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition counts: for each user's
    time-ordered stream, count (current -> next) event-type pairs — the
    Markov-chain estimate behind session modeling. One window pass per
    user (ties broken by event_id so the sequence is total-ordered and
    engine-independent) + one tiny aggregate."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "profile_customer_columns",
    oracle="""
WITH base AS (
  SELECT count(*) AS n_rows,
         CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul_k,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS dis_k,
         round(CAST(min(c_custkey) AS DOUBLE), 6) AS min_k,
         round(CAST(max(c_custkey) AS DOUBLE), 6) AS max_k,
         round(CAST(SUM(CAST(CAST(c_custkey AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
               / count(c_custkey), 6) AS avg_k,
         CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul_b,
         CAST(count(DISTINCT c_acctbal) AS BIGINT) AS dis_b,
         round(CAST(min(c_acctbal) AS DOUBLE), 6) AS min_b,
         round(CAST(max(c_acctbal) AS DOUBLE), 6) AS max_b,
         round(CAST(SUM(CAST(CAST(c_acctbal AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
               / count(c_acctbal), 6) AS avg_b,
         CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul_s,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS dis_s,
         min(c_mktsegment) AS min_s,
         max(c_mktsegment) AS max_s
  FROM customer)
SELECT 'c_custkey' AS "column", n_rows, nul_k AS n_null, dis_k AS n_distinct,
       min_k AS min_num, max_k AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       avg_k AS mean
FROM base
UNION ALL
SELECT 'c_acctbal', n_rows, nul_b, dis_b, min_b, max_b, NULL, NULL, avg_b FROM base
UNION ALL
SELECT 'c_mktsegment', n_rows, nul_s, dis_s, NULL, NULL, min_s, max_s, NULL FROM base
""",
    tags=("quality", "profile"),
)
def profile_customer_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single-scan column profiling
    (operators/quality.profile_columns) over customer: typed min/max
    (doubles for numerics, strings for strings — no engine-specific
    float formatting), decimal-exact means, null/distinct counts."""
    from terra_bonobo_nodes_spark.operators.quality import profile_columns

    cust = load_table(spark, sf_dir, "customer")
    return profile_columns(cust, ["c_custkey", "c_acctbal"], ["c_mktsegment"])


@register(
    "timeseries_gapfill_ffill",
    oracle="""
WITH obs AS (
  SELECT user_id,
         CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS b,
         ts, value
  FROM events),
pb AS (
  SELECT user_id, b, value AS v FROM (
    SELECT user_id, b, value,
           row_number() OVER (PARTITION BY user_id, b
                              ORDER BY ts DESC, value DESC) AS rn
    FROM obs) WHERE rn = 1),
sp AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM pb GROUP BY 1),
grid AS (SELECT sp.user_id, CAST(r.b AS BIGINT) AS b
         FROM sp, unnest(range(lo, hi + 3600, 3600)) AS r(b)),
g2 AS (SELECT g.user_id, g.b, pb.v, pb.b IS NOT NULL AS obs
       FROM grid g LEFT JOIN pb ON pb.user_id = g.user_id AND pb.b = g.b)
SELECT user_id, b AS bucket_ts,
       CASE WHEN obs THEN v
            ELSE last_value(v IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY b ROWS UNBOUNDED PRECEDING)
       END AS value,
       NOT obs AS is_filled
FROM g2
""",
    tags=("timeseries",),
)
def timeseries_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of each user's value series with forward fill
    (operators/timeseries.resample_ffill): the regular grid comes from
    sequence()+explode per key span, empties fill from the last
    observation via an ordered window — the standard sensor/metric
    normalization step, no driver loop anywhere."""
    from terra_bonobo_nodes_spark.operators.timeseries import resample_ffill

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return resample_ffill(ev, ["user_id"], "ts", "value", step_seconds=3600)


@register(
    "rolling_range_window_1h",
    oracle="""
SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       value,
       count(*) OVER w AS roll_n,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE) AS roll_sum
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
    tags=("timeseries", "window"),
)
def rolling_range_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event rolling count/exact-sum over the preceding hour via a
    RANGE window frame (operators/timeseries.rolling_range_agg) —
    wall-clock-correct on irregular series where a ROWS frame would
    mix horizons. RANGE peers (same key, same second) are included by
    both engines' frame semantics, which the oracle pins."""
    from terra_bonobo_nodes_spark.operators.timeseries import rolling_range_agg

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return rolling_range_agg(ev, ["user_id"], "ts", "value", lookback_seconds=3600)


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,6)))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
                AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
    tags=("tpch", "join"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the six-table join with the
    non-hierarchical twist — supplier must share the CUSTOMER's nation
    — that makes join ORDER matter. Expressed declaratively; Catalyst
    reorders so the region→nation filter chain prunes supplier/customer
    before the fact join, and every dimension broadcasts (plan asserted
    in the audit). Revenue decimal-accumulated."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "ntile_customer_deciles",
    oracle="""
WITH d AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer)
SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile,
       count(*) AS n,
       round(min(c_acctbal), 4) AS lo,
       round(max(c_acctbal), 4) AS hi,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS sum_bal
FROM d GROUP BY 1, 2
""",
    tags=("analytics", "window"),
)
def ntile_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency account-balance deciles per market segment
    (ntile window) with per-decile bounds and exact sums. The ntile
    order carries a c_custkey tie-break so bucket boundaries are
    engine-independent even with duplicate balances."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    d = cust.withColumn("decile", F.ntile(10).over(w))
    return d.groupBy("c_mktsegment", F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("c_acctbal"), 4).alias("lo"),
        F.round(F.max("c_acctbal"), 4).alias("hi"),
        F.sum(F.col("c_acctbal").cast("decimal(20,6)")).cast("double").alias("sum_bal"),
    )


@register(
    "linkage_fuzzy_part_names",
    oracle="""
WITH n AS (SELECT p_name, min(p_partkey) AS pid FROM part GROUP BY 1),
s0 AS (SELECT pid, p_name, str_split(lower(p_name), ' ')[1] AS blk FROM n),
-- mirror the operator's max_block_size cap (degenerate blocks dropped)
s AS (SELECT * FROM s0
      QUALIFY count(*) OVER (PARTITION BY blk) <= 10000)
SELECT a.pid AS id_a, b.pid AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
FROM s a JOIN s b ON a.blk = b.blk
WHERE (a.pid, a.p_name) < (b.pid, b.p_name)
  AND levenshtein(a.p_name, b.p_name) <= 3
""",
    tags=("linkage", "dedup"),
)
def linkage_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked edit distance
    (operators/linkage.fuzzy_match_pairs): distinct part names paired
    inside first-token blocks when levenshtein <= 3 — finds the
    'hot rod'/'hot ring' near-labels without ever forming a cross
    product. Levenshtein is an exact integer metric, identical on both
    engines, so the oracle checks full values."""
    from terra_bonobo_nodes_spark.operators.linkage import fuzzy_match_pairs

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("pid"))
    )
    return fuzzy_match_pairs(names, "pid", "p_name", max_distance=3)


def _distinct_sketch_oracle() -> str:
    from terra_bonobo_nodes_spark.llm import distinct as ds

    kmv = ds.kmv_report_sql(
        "SELECT * FROM events", "user_id", "event_type", _ADU_K
    )
    hll = ds.hll_report_sql(
        "SELECT * FROM events", "user_id", "event_type", _ADU_P
    )
    return f"""
WITH _ex AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS estimate_ok
  FROM events GROUP BY 1
), _k AS ({kmv}), _h AS ({hll})
SELECT _ex.event_type, _ex.n_events, _ex.exact_users, _ex.estimate_ok,
       _k.kmv_size, _k.kmv_est, _h.hll_zero_regs, _h.hll_est
FROM _ex
JOIN _k ON _k."group" = _ex.event_type
JOIN _h ON _h."group" = _ex.event_type
"""


_ADU_K, _ADU_P = 64, 5


@register(
    "approx_distinct_users",
    oracle=_distinct_sketch_oracle(),
    tags=("sketch", "aggregate"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality sketches per event type — THE 100 TB
    cardinality primitive (constant memory, mergeable across
    partitions, re-aggregable across days, where exact distinct
    shuffles every key). Widened round 14 (the llm_blocked_hosts
    zero-net precedent) to absorb the llm_distinct_sketch_report
    candidate: the row now runs THREE estimators at the same
    event_type grain —

    - Spark's engine-internal HLL++ (approx_count_distinct), verified
      through the ``estimate_ok`` error-bound predicate since its raw
      value is engine-specific (the g7 rt_ok precedent);
    - the from-scratch KMV bottom-k sketch (llm/distinct.py) whose
      ``kmv_est`` VALUE hash-compares cross-engine (k=64 exercises
      both regimes across the SFs: exact below k, the
      (k-1)*2^60 div h_k estimator above);
    - the from-scratch HLL register sketch whose ``hll_est`` VALUE
      hash-compares (p=5 exercises linear-counting correction at
      sf0.001 and the raw harmonic estimator above).

    Exact distinct rides along as the verification harness; at corpus
    scale only the sketches run. kmv_sketch is the persistable
    k-BIGINTs-per-group artifact (kmv_merge is EXACT, pinned), and
    hll_registers is combinable + streamable in complete mode."""
    from terra_bonobo_nodes_spark.llm import distinct as ds

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    err_ok = (
        F.abs(F.col("_approx") - F.col("exact_users"))
        <= 3 * 0.02 * F.col("exact_users")
    )
    base = agg.select(
        "event_type", "n_events", "exact_users", err_ok.alias("estimate_ok")
    )
    kmv = ds.kmv_estimate(
        ds.kmv_sketch(ev, "user_id", "event_type", k=_ADU_K), _ADU_K
    )
    hll = ds.hll_estimate(
        ds.hll_registers(ev, "user_id", "event_type", p=_ADU_P), _ADU_P
    )
    return (
        base.join(kmv, base.event_type == kmv.group)
        .join(hll, base.event_type == hll.group)
        .select(
            "event_type",
            "n_events",
            "exact_users",
            "estimate_ok",
            "kmv_size",
            "kmv_est",
            "hll_zero_regs",
            "hll_est",
        )
    )


@register(
    "full_outer_reconciliation",
    oracle="""
WITH c AS (SELECT c_custkey, count(*) AS n_cust FROM customer GROUP BY 1),
o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(o.n_orders, 0) AS n_orders,
       CASE WHEN c.c_custkey IS NULL THEN 'orphan_order'
            WHEN o.o_custkey IS NULL THEN 'no_orders'
            ELSE 'matched' END AS status
FROM c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey
""",
    tags=("join", "reconciliation"),
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided reconciliation via FULL OUTER join: customers without
    orders, orders referencing unknown customers, and the matched rest
    — the warehouse integrity diff that completes the engine's join-
    type surface (inner/left/semi/anti/asof/range/interval elsewhere)."""
    c = load_table(spark, sf_dir, "customer").groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    o = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.when(F.col("c_custkey").isNull(), "orphan_order")
        .when(F.col("o_custkey").isNull(), "no_orders")
        .otherwise("matched")
        .alias("status"),
    )


@register(
    "grouping_sets_lineitem",
    oracle="""
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus), ())
""",
    tags=("aggregate", "grouping-sets"),
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general multi-granularity aggregate
    of which rollup/cube (both covered elsewhere) are special cases,
    with grouping() markers disambiguating genuine NULL groups from
    subtotal rows. Spark executes one Expand + single aggregation, not
    one scan per set."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql("""
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM gs_lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus), ())
""")


# --- round 6: CDC, sessionization, golden record ----------------------------


@register(
    "cdc_apply_changes",
    headline=True,
    oracle="""
WITH base AS (SELECT c_custkey, round(c_acctbal, 4) AS bal FROM customer),
ch AS (SELECT o_custkey AS c_custkey, o_orderkey AS seq,
              CASE WHEN o_orderstatus = 'O' THEN 'D' ELSE 'U' END AS op,
              round(o_totalprice, 4) AS bal
       FROM orders),
latest AS (
  SELECT * FROM ch
  QUALIFY row_number() OVER (
    PARTITION BY c_custkey ORDER BY seq DESC, op DESC) = 1)
SELECT b.c_custkey, b.bal
FROM base b LEFT JOIN latest l ON l.c_custkey = b.c_custkey
WHERE l.c_custkey IS NULL
UNION ALL
SELECT c_custkey, bal FROM latest WHERE op <> 'D'
""",
    tags=("cdc", "upsert"),
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (operators/cdc.apply_changes — Delta's
    APPLY CHANGES INTO in plain DataFrame ops): the customer snapshot
    receives a synthetic orders-derived changelog (orderkey = commit
    sequence; open orders delete, others upsert the order total as the
    new balance). Collapse = one window over the changelog; apply =
    anti-join + union with the snapshot scanned once, never shuffled —
    the K1 delete-then-insert contract (terra.py:155-161) generalized
    to a keyed change log."""
    from terra_bonobo_nodes_spark.operators.cdc import apply_changes

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 4).alias("bal")
    )
    o = load_table(spark, sf_dir, "orders")
    ch = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderstatus") == "O", "D").otherwise("U").alias("op"),
        F.round("o_totalprice", 4).alias("bal"),
    )
    return apply_changes(base, ch, ["c_custkey"], "seq")


@register(
    "sessionize_clickstream",
    headline=True,
    oracle="""
WITH marked AS (
  SELECT user_id, event_id, value, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  -- ORDER BY full-precision ts (not the truncated sec): both windows
  -- must walk rows in the SAME order the Spark operator uses, or a
  -- same-second inversion between event_id and microsecond order
  -- would count a boundary row into the wrong session
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       min(sec) AS session_start,
       max(sec) AS session_end,
       count(*) AS n_events,
       max(sec) - min(sec) AS duration_s,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM numbered
GROUP BY 1, 2
""",
    tags=("sessions", "window"),
)
def sessionize_clickstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators/sessions.session_stats): per-user
    sessions split at >30-minute gaps, with start/end/count/duration
    and exact value sums. The batch twin of stream_session_window_agg's
    state-store windows — gaps-and-islands in ONE sort-window per key
    (lag and the running session counter share the frame, single
    Exchange), oracled against the same construction in SQL. Ordering
    is explicit on (ts, event_id) — Bonobo's arrival-order semantics
    made deterministic (SURVEY §4.2)."""
    from terra_bonobo_nodes_spark.operators.sessions import session_stats

    ev = load_table(spark, sf_dir, "events")
    return session_stats(
        ev, ["user_id"], "ts", gap_seconds=1800,
        value_col="value", order_cols=["event_id"],
    )


@register(
    "golden_record_part_names",
    oracle="""
WITH RECURSIVE
n AS (SELECT p_name, min(p_partkey) AS pid FROM part GROUP BY 1),
s0 AS (SELECT pid, p_name, str_split(lower(p_name), ' ')[1] AS blk FROM n),
s AS (SELECT * FROM s0
      QUALIFY count(*) OVER (PARTITION BY blk) <= 10000),
p AS (SELECT a.pid AS id_a, b.pid AS id_b
      FROM s a JOIN s b ON a.blk = b.blk
      WHERE (a.pid, a.p_name) < (b.pid, b.p_name)
        AND levenshtein(a.p_name, b.p_name) <= 3),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS pid, least(src, min(dst)) AS component_id
         FROM reach GROUP BY src),
mapped AS (SELECT coalesce(c.component_id, n.pid) AS entity_id, n.p_name
           FROM n LEFT JOIN comp c ON c.pid = n.pid)
SELECT entity_id,
       CAST(count(*) AS BIGINT) AS n_members,
       (array_agg(p_name ORDER BY length(p_name) DESC, p_name DESC))[1]
         AS canonical_name
FROM mapped GROUP BY 1
""",
    tags=("linkage", "dedup"),
)
def golden_record_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data golden record (operators/linkage.golden_record):
    fuzzy part-name pairs → connected components → one canonical
    record per entity (longest name wins, lexicographically-last tie
    break, singletons kept as themselves). The oracle rebuilds the
    iterative component step with a recursive-CTE closure and the
    survivor election with an ordered array_agg."""
    from terra_bonobo_nodes_spark.operators.linkage import golden_record

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("pid"))
    )
    return golden_record(names, "pid", "p_name", max_distance=3)
