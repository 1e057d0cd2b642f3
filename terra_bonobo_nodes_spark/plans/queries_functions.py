"""Correctness queries: the scalar-function surface.

One wide projection — string + datetime + math + array fused, ~37
functions per row over lineitem, verified value-for-value against
DuckDB — plus window/stats/json queries at their own grains. These pin
the cross-engine semantics of the engine's public expression vocabulary
(null handling, 1-based indexing, rounding mode, ISO weekday) rather
than any single operator. Where the reference escapes to arbitrary
Python per record (``MapProperties``, ``FilterByProperties`` lambdas —
common.py:269-283, common.py:196-211), this engine stays declarative:
every function is a Spark builtin (JVM-side, codegen) with a DuckDB
equivalent these queries check.

Cross-engine parity notes baked into the choices:
- ``round`` is HALF_UP in both engines (2.5→3, −2.5→−3);
- ``strpos``/``instr`` are 1-based, 0 when absent, in both;
- transcendental functions (exp/log/sin…) are NOT in the verified
  surface — libm vs JVM StrictMath may differ in the last ulp; they
  work, but aren't oracle-checked;
- Spark ``dayofweek`` is 1=Sunday while DuckDB's is 0=Sunday: the
  verified weekday form is ISO (``weekday()+1`` ≡ DuckDB ``isodow``).

ROUND-9 CONSOLIDATION: the former ``fn_string_surface``,
``fn_datetime_surface`` and ``fn_math_array_surface`` (r06/r07 green,
CORRECTNESS_r06/r07.json) shared the same grain (one row per lineitem,
``l_orderkey % 100 = 0``) and are now ONE registered query,
``fn_scalar_surface`` — identical per-function coverage, two fewer
rotation slots (the VERDICT_r08 capacity directive). The only column
rename in the merge: the string surface's md5 column ``h`` became
``md5h`` (collided with the datetime surface's hour ``h``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.plans.registry import register
from terra_bonobo_nodes_spark.tables import load_table


@register(
    "fn_scalar_surface",
    oracle="""
SELECT l_orderkey, l_linenumber,
       upper(l_returnflag) AS u, lower(l_linestatus) AS lo,
       length(concat_ws('-', l_returnflag, l_linestatus)) AS clen,
       lpad(CAST(l_linenumber AS VARCHAR), 4, '0') AS padded,
       repeat(l_returnflag, 3) AS rep,
       reverse(concat_ws('', l_returnflag, l_linestatus)) AS rev,
       strpos('NAROF', l_returnflag) AS pos,
       translate(l_returnflag, 'ANR', 'anr') AS tr,
       substr(concat_ws('_', l_returnflag, l_linestatus), 2, 2) AS sub,
       replace(l_linestatus, 'O', '0') AS repl,
       md5(l_returnflag) AS md5h,
       year(l_shipdate) AS y, month(l_shipdate) AS mo, day(l_shipdate) AS d,
       hour(l_shipdate) AS h, minute(l_shipdate) AS mi,
       isodow(CAST(l_shipdate AS DATE)) AS dow,
       CAST(CAST(date_trunc('month', l_shipdate) AS DATE) AS VARCHAR) AS mstart,
       CAST(CAST(CAST(l_shipdate AS DATE) + 30 AS DATE) AS VARCHAR) AS plus30,
       CAST(last_day(CAST(l_shipdate AS DATE)) AS VARCHAR) AS eom,
       datediff('day', DATE '2024-01-01', CAST(l_shipdate AS DATE)) AS since,
       CAST(floor(epoch(l_shipdate)) AS BIGINT) AS unix_s,
       CAST(make_date(2024, month(l_shipdate), 1) AS VARCHAR) AS firsts,
       abs(l_quantity - 25.0) AS a,
       CAST(ceil(l_discount * 100) AS BIGINT) AS c,
       CAST(floor(l_tax * 100) AS BIGINT) AS f,
       round(l_extendedprice, 1) AS r,
       sqrt(l_quantity) AS sq,
       CAST(sign(l_quantity - 25.0) AS DOUBLE) AS sg,
       greatest(l_discount, l_tax) AS g,
       least(l_discount, l_tax) AS le,
       l_quantity * l_quantity AS p2,
       len([l_quantity, l_extendedprice, l_discount]) AS asz,
       list_sort([l_tax, l_discount, 0.05])[1] AS amin,
       list_contains([CAST(l_linenumber AS BIGINT)], 1) AS has1,
       array_to_string(list_transform([1, 2, 3], x -> CAST(x * l_linenumber AS VARCHAR)), ',') AS joined,
       CAST(list_sum(list_transform([1, 2, 3, 4], x -> CAST(x AS BIGINT) * l_linenumber)) AS BIGINT) AS hsum
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
    tags=("functions", "string", "datetime", "math", "array"),
)
def fn_scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole row-level scalar vocabulary in one projection: string,
    datetime, math and array/lambda families, ~37 functions per row at
    the (l_orderkey, l_linenumber) grain. One scan, one stage — exactly
    what the three pre-r09 surface queries cost together in driver
    slots for the same per-function coverage."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    d = F.to_date("l_shipdate")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # string family
        F.upper("l_returnflag").alias("u"),
        F.lower("l_linestatus").alias("lo"),
        F.length(F.concat_ws("-", "l_returnflag", "l_linestatus")).alias("clen"),
        F.lpad(F.col("l_linenumber").cast("string"), 4, "0").alias("padded"),
        F.repeat("l_returnflag", 3).alias("rep"),
        F.reverse(F.concat_ws("", "l_returnflag", "l_linestatus")).alias("rev"),
        F.instr(F.lit("NAROF"), F.col("l_returnflag")).alias("pos"),
        F.translate("l_returnflag", "ANR", "anr").alias("tr"),
        F.substring(F.concat_ws("_", "l_returnflag", "l_linestatus"), 2, 2).alias(
            "sub"
        ),
        F.replace("l_linestatus", F.lit("O"), F.lit("0")).alias("repl"),
        F.md5(F.col("l_returnflag").cast("binary")).alias("md5h"),
        # datetime family
        F.year("l_shipdate").alias("y"),
        F.month("l_shipdate").alias("mo"),
        F.dayofmonth("l_shipdate").alias("d"),
        F.hour("l_shipdate").alias("h"),
        F.minute("l_shipdate").alias("mi"),
        (F.weekday(d) + 1).alias("dow"),
        # dates exported as ISO strings: pandas materializes DuckDB DATE
        # as datetime64, Spark DATE as datetime.date — strings compare
        F.date_trunc("month", "l_shipdate").cast("date").cast("string").alias(
            "mstart"
        ),
        F.date_add(d, 30).cast("string").alias("plus30"),
        F.last_day(d).cast("string").alias("eom"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("since"),
        F.unix_timestamp("l_shipdate").alias("unix_s"),
        F.make_date(F.lit(2024), F.month("l_shipdate"), F.lit(1))
        .cast("string")
        .alias("firsts"),
        # math + array/lambda families
        F.abs(F.col("l_quantity") - 25.0).alias("a"),
        F.ceil(F.col("l_discount") * 100).alias("c"),
        F.floor(F.col("l_tax") * 100).alias("f"),
        F.round("l_extendedprice", 1).alias("r"),
        F.sqrt("l_quantity").alias("sq"),
        F.signum(F.col("l_quantity") - 25.0).alias("sg"),
        F.greatest("l_discount", "l_tax").alias("g"),
        F.least("l_discount", "l_tax").alias("le"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("p2"),
        F.size(F.array("l_quantity", "l_extendedprice", "l_discount")).alias("asz"),
        F.sort_array(F.array("l_tax", "l_discount", F.lit(0.05)))[0].alias("amin"),
        F.array_contains(
            F.array(F.col("l_linenumber").cast("bigint")), F.lit(1).cast("bigint")
        ).alias("has1"),
        F.array_join(
            F.transform(
                F.array(F.lit(1), F.lit(2), F.lit(3)),
                lambda x: (x * F.col("l_linenumber")).cast("string"),
            ),
            ",",
        ).alias("joined"),
        F.aggregate(
            F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(4)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint") * F.col("l_linenumber"),
        ).alias("hsum"),
    )


@register(
    "fn_window_surface",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_custkey % 10 = 0)
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(cume_dist() OVER w, 6) AS cd,
       round(percent_rank() OVER w, 6) AS pr,
       round(lag(price, 1, 0.0)  OVER w, 6) AS prev_price,
       round(lead(price, 1, 0.0) OVER w, 6) AS next_price,
       round(first_value(price) OVER w, 6) AS min_price,
       round(sum(price) OVER (PARTITION BY o_custkey ORDER BY price, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running,
       round(avg(price) OVER (PARTITION BY o_custkey ORDER BY price, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY price, o_orderkey)
""",
    tags=("functions", "window"),
)
def fn_window_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-function surface the engine claims (SURVEY §2.5
    note: the reference has no window functions — Spark supplies them
    natively): ranking family, distribution family, lead/lag, frame-
    bounded running aggregates. Ordering is made total with the
    orderkey tie-break so every engine ranks identically; running sums
    use ROWS frames (deterministic under ties, unlike RANGE)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("price", "o_orderkey")
    rows_all = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows_3 = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.lag("price", 1, 0.0).over(w), 6).alias("prev_price"),
        F.round(F.lead("price", 1, 0.0).over(w), 6).alias("next_price"),
        F.round(F.first("price").over(w), 6).alias("min_price"),
        F.round(F.sum("price").over(rows_all), 6).alias("running"),
        F.round(F.avg("price").over(rows_3), 6).alias("mov_avg"),
    )


@register(
    "fn_stats_surface",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 4) AS p75,
       round(stddev_samp(CAST(l_quantity AS DOUBLE)), 4) AS sd_qty,
       round(var_samp(CAST(l_quantity AS DOUBLE)), 4) AS var_qty,
       round(corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)), 6)
         AS corr_qp,
       round(covar_samp(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)), 6)
         AS cov_qd
FROM lineitem GROUP BY l_returnflag
""",
    tags=("functions", "stats"),
)
def fn_stats_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: EXACT continuous quantiles (the
    p*(n-1) interpolation both engines implement), sample stddev /
    variance, correlation, covariance. Rounded to absorb the engines'
    different accumulation orders (~1ulp); percentile_approx is
    deliberately NOT oracle-checked — its sketch is engine-specific."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_discount").cast("double").alias("disc"),
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(price, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(price, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(price, 0.75)"), 4).alias("p75"),
        F.round(F.stddev_samp("qty"), 4).alias("sd_qty"),
        F.round(F.var_samp("qty"), 4).alias("var_qty"),
        F.round(F.corr("qty", "price"), 6).alias("corr_qp"),
        F.round(F.covar_samp("qty", "disc"), 6).alias("cov_qd"),
    )


@register(
    "fn_json_roundtrip",
    oracle="""
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) AS BIGINT) - CAST(length(replace(text, '"', '')) AS BIGINT)
         AS n_quotes
FROM documents
""",
    tags=("functions", "json"),
)
def fn_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON codec fidelity: serialize each document row with to_json,
    parse it back with from_json, and emit fields OF THE ROUNDTRIPPED
    copy. The oracle reads the originals directly, so any escaping /
    unicode / quoting loss in the codec breaks the hash. n_quotes
    forces the escaping path to matter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    schema = "doc_id BIGINT, lang STRING, text STRING"
    rt = docs.select(
        F.from_json(F.to_json(F.struct("doc_id", "lang", "text")), schema).alias("r")
    )
    return rt.select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.length("r.text").cast("long").alias("n_chars"),
        (
            F.length("r.text") - F.length(F.regexp_replace("r.text", '"', ""))
        )
        .cast("long")
        .alias("n_quotes"),
    )
