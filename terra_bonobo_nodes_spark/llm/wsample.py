"""Weighted priority sampling — fixed-k weighted samples + total
estimation (Duffield, Lund & Thorup 2007, public; the weighted
complement of llm/corpus.py's unweighted reservoir / quota / budget
samplers).

A curation pipeline constantly needs "k documents per stratum, chosen
proportionally to weight (tokens, chars, quality mass), with an
unbiased estimate of the stratum's total from the sample alone". DLT
priority sampling does exactly that with one pass and one shuffle:

- each item draws ``u_i`` uniform in (0, 1] — here ``(h_i + 1) /
  2^60`` from the shared md5 hash machinery, so the draw is a
  deterministic pure-Column expression (the seeded-hash-order
  convention every sampler in this repo uses; +1 dodges u = 0 and
  its division);
- priority ``q_i = w_i / u_i``, computed as the exact integer
  ``(w_i * 2^60) div (h_i + 1)`` (DECIMAL(38,0) / HUGEINT — no
  float anywhere);
- the sample is the top-k by (q desc, id) per group; ``tau`` = the
  (k+1)-th priority (0 when the group fits entirely — then the
  "sample" is the group and the estimate is exact);
- the DLT estimator for the group's total weight is
  ``sum(greatest(w_i, tau))`` over the k sampled items — unbiased up
  to the integer floor (±1 per term, deterministic, replayed by the
  oracle).

Scale shape: one hash projection, one per-group top-(k+1) — the same
rank-filter shuffle every top-k in this repo uses, never a
collect; the sample (k rows per group) is the artifact downstream
stages consume. Heavy-weight items are picked with probability
min(1, w/tau) — the sample concentrates on the mass, which is the
point of weighted sampling for token-budgeted corpus work.

Cross-engine contract: hashes, priorities, tau, and the estimator
are all exact BIGINT/DECIMAL integer arithmetic — build AND estimate
replay bit-for-bit in DuckDB (the llm/sketch.py oracle class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import hashing

_SEED = "tbns-wsample-v1"
_HASH_HEX = 15
_HASH_SPACE = 1 << 60


def priority_sample(
    df: DataFrame,
    weight_col: str = "weight",
    group_col: str = "group",
    id_col: str = "id",
    k: int = 64,
) -> DataFrame:
    """The sampled rows: (group, id, weight, q, rank, tau) with rank
    in [1, k] by descending priority and tau = the group's (k+1)-th
    priority (0 when the group has <= k eligible rows). Rows with
    NULL id or NULL/non-positive weight are excluded (a weightless
    item has no inclusion probability — documented drop, mirrored in
    SQL)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    staged = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("bigint").alias("weight"),
            (hashing.seeded_hash(F.col(id_col), _SEED, _HASH_HEX) + 1).alias(
                "_h"
            ),
        )
        .where(F.col("id").isNotNull() & (F.col("weight") > 0))
        .select(
            "group",
            "id",
            "weight",
            F.expr(
                f"CAST(weight AS DECIMAL(38,0)) * {_HASH_SPACE} div _h"
            ).alias("q"),
        )
    )
    w_rank = Window.partitionBy("group").orderBy(
        F.col("q").desc(), F.col("id").asc()
    )
    w_all = Window.partitionBy("group")
    ranked = staged.select(
        "group",
        "id",
        "weight",
        "q",
        F.row_number().over(w_rank).alias("rank"),
    ).select(
        "group",
        "id",
        "weight",
        "q",
        "rank",
        F.coalesce(
            F.max(F.when(F.col("rank") == k + 1, F.col("q"))).over(w_all),
            F.lit(0),
        ).alias("tau"),
    )
    return ranked.where(F.col("rank") <= k)


def priority_sample_report(
    df: DataFrame,
    weight_col: str = "weight",
    group_col: str = "group",
    id_col: str = "id",
    k: int = 64,
) -> DataFrame:
    """Group-grain audit: (group, n_rows, total_weight, n_sampled,
    tau, est_weight) where est_weight = sum(greatest(weight, tau))
    over the sample — the DLT unbiased total estimator, exact when
    the group fits inside k (tau = 0)."""
    sample = priority_sample(df, weight_col, group_col, id_col, k)
    est = sample.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("tau").alias("tau"),
        F.sum(F.greatest(F.col("weight"), F.col("tau"))).alias("est_weight"),
    )
    totals = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("bigint").alias("weight"),
        )
        .where(F.col("id").isNotNull() & (F.col("weight") > 0))
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("weight").alias("total_weight"),
        )
    )
    # null-SAFE group join: a NULL group is a real stratum on both
    # sides (groupBy keeps it; the SQL mirror joins IS NOT DISTINCT
    # FROM) — a plain column-list join would silently drop it
    est2 = est.withColumnRenamed("group", "_eg")
    return totals.join(
        est2, totals["group"].eqNullSafe(F.col("_eg"))
    ).select(
        "group", "n_rows", "total_weight", "n_sampled", "tau", "est_weight"
    )


def _priority_ctes(
    src_sql: str,
    weight_expr: str,
    group_expr: str,
    id_expr: str,
    k: int,
) -> str:
    """The staged/ranked/tau CTE chain both SQL mirrors share (string
    reuse, not duplication — the report and row-grain forms can never
    drift apart)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    return f"""_ps_src AS ({src_sql}),
_ps_staged AS (
  SELECT {group_expr} AS "group", {id_expr} AS id,
         CAST({weight_expr} AS BIGINT) AS weight,
         (CAST({weight_expr} AS BIGINT)::HUGEINT * {_HASH_SPACE})
           // ({hashing.seeded_hash_sql(id_expr, _SEED, _HASH_HEX)} + 1) AS q
  FROM _ps_src
  WHERE {id_expr} IS NOT NULL AND CAST({weight_expr} AS BIGINT) > 0
),
_ps_ranked AS (
  SELECT "group", id, weight, q,
         row_number() OVER (PARTITION BY "group"
                            ORDER BY q DESC, id ASC) AS rank
  FROM _ps_staged
),
_ps_tau AS (
  SELECT "group",
         coalesce(max(CASE WHEN rank = {k + 1} THEN q END), 0) AS tau
  FROM _ps_ranked GROUP BY 1
)"""


def priority_sample_sql(
    src_sql: str,
    weight_expr: str,
    group_expr: str,
    id_expr: str,
    k: int,
) -> str:
    """DuckDB replay of :func:`priority_sample` (the row-grain form:
    one row per SAMPLED id with its rank and the group's tau)."""
    ctes = _priority_ctes(src_sql, weight_expr, group_expr, id_expr, k)
    return f"""
WITH {ctes}
SELECT r."group", r.id, r.weight,
       r.q AS q,
       CAST(r.rank AS BIGINT) AS rank,
       CAST(t.tau AS BIGINT) AS tau
FROM _ps_ranked r JOIN _ps_tau t ON t."group" IS NOT DISTINCT FROM r."group"
WHERE r.rank <= {k}
"""


def priority_sample_report_sql(
    src_sql: str,
    weight_expr: str,
    group_expr: str,
    id_expr: str,
    k: int,
) -> str:
    """DuckDB replay of :func:`priority_sample_report`."""
    ctes = _priority_ctes(src_sql, weight_expr, group_expr, id_expr, k)
    return f"""
WITH {ctes},
_ps_est AS (
  SELECT r."group",
         CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(max(t.tau) AS BIGINT) AS tau,
         CAST(sum(greatest(r.weight, t.tau)) AS BIGINT) AS est_weight
  FROM _ps_ranked r JOIN _ps_tau t ON t."group" IS NOT DISTINCT FROM r."group"
  WHERE r.rank <= {k}
  GROUP BY 1
),
_ps_totals AS (
  SELECT "group",
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(weight) AS BIGINT) AS total_weight
  FROM _ps_staged GROUP BY 1
)
SELECT t."group", t.n_rows, t.total_weight,
       e.n_sampled, e.tau, e.est_weight
FROM _ps_totals t JOIN _ps_est e ON e."group" IS NOT DISTINCT FROM t."group"
"""
