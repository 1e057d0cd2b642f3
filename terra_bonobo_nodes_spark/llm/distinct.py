"""Distinct-count sketches — KMV bottom-k and HyperLogLog registers.

The third and fourth members of the bounded-memory sketch family
(llm/bloom.py answers membership, llm/sketch.py answers frequency;
these answer CARDINALITY). An exact COUNT(DISTINCT) over a 100 TB
corpus shuffles every key every time it is asked; both sketches here
produce a tiny mergeable artifact that is built once, persisted, and
re-aggregated across days/partitions without touching the raw data
again:

- **KMV** (k minimum values; Bar-Yossef et al. 2002, Beyer et al.
  2007, public): the sketch is the k smallest distinct 60-bit hashes
  of the value column — k BIGINTs per group. Building FROM RAW costs
  the same distinct-shuffle exact counting pays (that is unavoidable:
  the k-th smallest hash is a global order statistic); the payoff is
  **merge**: day-over-day union is bottom-k over 2k rows per group
  (:func:`kmv_merge` — bottom-k of a union of bottom-ks contains the
  union's bottom-k, so merged sketches are exactly the sketch of the
  union; pinned by tests/test_distinct.py). Estimate: exact size while
  the sketch is not full, else ``(k-1) * 2^60 div h_k`` — the
  classic order-statistics estimator evaluated in exact integer
  arithmetic (DECIMAL div / HUGEINT floor-div), so the ESTIMATE
  itself replays bit-for-bit in DuckDB, not just an error predicate.

- **HyperLogLog** (Flajolet et al. 2007, public): ``m = 2^p``
  registers per group holding max leading-zero ranks. The build is a
  plain ``groupBy(group, register).agg(max(rho))`` — combinable
  map-side, BOUNDED key space (m per group), so unlike KMV the raw
  build never shuffles more than ``groups * m`` rows and runs
  UNCHANGED over a readStream (complete-mode state is constant-size —
  the cms_cells property). Register/rank come from independent slices
  of ONE md5 digest: register = first 32-bit slice mod m, rank =
  53 - length(bin(52-bit slice)) (rank 53 for an all-zero suffix) —
  ``bin``/``printf('%b')`` make the leading-zero count exact in both
  engines, no floats. The harmonic mean runs over a common 2^53
  denominator (integer table lookup ``2^(53-rho)``), the alpha bias
  constant is the paper's ``0.7213 / (1 + 1.079/m)`` held as an exact
  rational, and the small-range linear-counting correction
  ``m * ln(m/V)`` is a PRECOMPUTED integer literal table (m entries,
  computed once in Python) — so the full estimator, corrections
  included, is bit-identical cross-engine.

Why both: KMV gives an unbiased estimate and exact-below-k semantics
with a k-row artifact and supports set operations (union by merge);
HLL gives a constant-size combinable build (the streaming/100 TB
path) at ~1.04/sqrt(m) error. A production pipeline keeps HLL on the
hot ingest path and KMV where merge-with-exact-small-groups matters;
this module ships both over the same seeded digest so the choice is
an operator swap, not a re-hash.

Cross-engine contract: every surfaced quantity is an exact BIGINT
(hashes, sketch sizes, register ranks, both estimates), so a DuckDB
oracle replays build AND estimate bit-for-bit — the
llm/sketch.py oracle class.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import hashing

_SEED = "tbns-distinct-v1"
# 15 md5 hex chars = 60 bits: uniform in [0, 2^60), fits signed 64-bit
# in both engines with headroom for the (k-1) * 2^60 numerator to stay
# inside DECIMAL(38,0)/HUGEINT exactness.
HASH_BITS = 60
_HASH_HEX = HASH_BITS // 4
_HASH_SPACE = 1 << HASH_BITS
# HLL rank source: 13 hex chars = 52 suffix bits -> rank in [1, 53].
_RANK_HEX = 13
_RANK_BITS = 4 * _RANK_HEX
_RANK_MAX = _RANK_BITS + 1
# 2^(_RANK_MAX - rho) lookup, 1-indexed by rho in [1, _RANK_MAX].
_POW2 = [1 << (_RANK_MAX - rho) for rho in range(1, _RANK_MAX + 1)]


# --- KMV --------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "group",
    k: int = 64,
) -> DataFrame:
    """Bottom-k distinct hashes per group: (group, rank, h) rows with
    rank in [1, min(k, distinct)]. NULL values are not values (SQL
    COUNT(DISTINCT) semantics) and are dropped before hashing.

    Plan: hash -> distinct on (group, h) -> per-group ascending
    row_number <= k. The distinct is the shuffle ANY from-raw distinct
    count pays; the window sorts only the surviving distinct hashes.
    The output is the persistable artifact — k BIGINTs per group —
    and all downstream re-aggregation goes through :func:`kmv_merge`
    on sketches, never back to the raw data."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by h_k)")
    hashed = (
        df.select(
            F.col(group_col).alias("group"),
            hashing.seeded_hash(F.col(value_col), _SEED, _HASH_HEX).alias("h"),
        )
        .where(F.col("h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("group").orderBy("h")
    return hashed.select(
        "group", "h", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)


def kmv_merge(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Merge two KMV sketches (same k) into the sketch of the union of
    their underlying value sets — bottom-k over at most 2k rows per
    group. Exact, not approximate: every hash in the union's true
    bottom-k is in one input's bottom-k (it is at most k-th smallest
    there too), so re-ranking the unioned sketch rows reproduces
    ``kmv_sketch`` over the unioned raw data bit-for-bit."""
    both = a.select("group", "h").unionByName(b.select("group", "h")).distinct()
    w = Window.partitionBy("group").orderBy("h")
    return both.select(
        "group", "h", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Per-group distinct estimate from a KMV sketch: exact while the
    sketch holds fewer than k hashes (every distinct value is in it),
    else ``(k-1) * 2^60 div h_k`` — exact integer floor division, so
    the estimate column itself is cross-engine comparable. Emits
    (group, kmv_size, kmv_est)."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by h_k)")
    num = (k - 1) * _HASH_SPACE
    agg = sketch.groupBy("group").agg(
        F.count(F.lit(1)).alias("kmv_size"),
        F.max(F.when(F.col("rank") == k, F.col("h"))).alias("_hk"),
    )
    est = F.when(F.col("kmv_size") < k, F.col("kmv_size")).otherwise(
        F.expr(f"CAST({num} AS DECIMAL(38,0)) div _hk")
    )
    return agg.select(
        "group", "kmv_size", est.cast("bigint").alias("kmv_est")
    )


def kmv_report_sql(
    src_sql: str, value_expr: str, group_expr: str, k: int
) -> str:
    """DuckDB replay of ``kmv_estimate(kmv_sketch(...))``: per-group
    (group, kmv_size, kmv_est)."""
    num = (k - 1) * _HASH_SPACE
    return f"""
WITH _kmv_src AS ({src_sql}),
_kmv_h AS (
  SELECT DISTINCT {group_expr} AS "group",
         {hashing.seeded_hash_sql(value_expr, _SEED, _HASH_HEX)} AS h
  FROM _kmv_src WHERE {value_expr} IS NOT NULL
),
_kmv_rk AS (
  SELECT "group", h,
         row_number() OVER (PARTITION BY "group" ORDER BY h) AS rank
  FROM _kmv_h
),
_kmv_sk AS (SELECT * FROM _kmv_rk WHERE rank <= {k})
SELECT "group",
       CAST(count(*) AS BIGINT) AS kmv_size,
       CAST(CASE WHEN count(*) < {k} THEN count(*)
            ELSE {num}::HUGEINT
                 // max(CASE WHEN rank = {k} THEN h END)::HUGEINT
            END AS BIGINT) AS kmv_est
FROM _kmv_sk GROUP BY 1
"""


# --- HyperLogLog -------------------------------------------------------------


def _alpha_rational(m: int) -> tuple[int, int]:
    """The paper's alpha_m = 0.7213 / (1 + 1.079/m) as an exact
    integer ratio: (7213 * 1000 * m) / (10000 * (1000 * m + 1079))."""
    return 7213 * 1000 * m, 10000 * (1000 * m + 1079)


def _lc_table(m: int) -> list[int]:
    """Linear-counting correction ``round(m * ln(m / V))`` for V in
    [1, m] — computed once here, shipped to BOTH engines as the same
    literal array, so the float log never runs inside a plan."""
    return [round(m * math.log(m / v)) for v in range(1, m + 1)]


def hll_rho(suffix: Column) -> Column:
    """Leading-zero rank of a 52-bit suffix: position of the highest
    set bit from the top, i.e. ``53 - length(bin(suffix))`` with the
    all-zero suffix pinned to the max rank 53. Exact in both engines
    (bin()/printf('%b') drop leading zeros deterministically)."""
    return F.when(suffix == 0, F.lit(_RANK_MAX)).otherwise(
        F.lit(_RANK_BITS + 1) - F.length(F.bin(suffix))
    )


def hll_registers(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "group",
    p: int = 5,
) -> DataFrame:
    """HLL register build: (group, register, rho) with rho = the max
    leading-zero rank seen in that register. One digest per value;
    register and rank come from disjoint hex windows of it. The
    aggregate's key space is BOUNDED at ``groups * 2^p`` by
    construction — combinable map-side, constant streaming state, the
    property that makes HLL the hot-ingest cardinality primitive."""
    if not 2 <= p <= 12:
        raise ValueError("p must be in [2, 12] (m = 2^p registers)")
    m = 1 << p
    dg = hashing.seeded_digest(F.col(value_col), _SEED)
    reg = hashing.digest_slice(dg, 0, m)
    suffix = hashing.hex_window(dg, 9, _RANK_HEX)
    rows = df.select(
        F.col(group_col).alias("group"),
        reg.alias("register"),
        hll_rho(suffix).alias("_rho"),
    ).where(F.col("register").isNotNull())
    return rows.groupBy("group", "register").agg(
        F.max("_rho").alias("rho")
    )


def hll_estimate(registers: DataFrame, p: int) -> DataFrame:
    """Per-group cardinality estimate from HLL registers, corrections
    included, in exact integer arithmetic. Emits
    (group, hll_zero_regs, hll_est).

    Raw estimator over a common 2^53 denominator: with S =
    sum_j 2^(53 - rho_j) (absent registers contribute rho = 0, i.e.
    2^53 each), raw = alpha_num * m^2 * 2^53 div (alpha_den * S).
    Small-range: when any register is empty and raw <= 5m/2, linear
    counting via the precomputed integer table. All multiplications
    run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact."""
    if not 2 <= p <= 12:
        raise ValueError("p must be in [2, 12] (m = 2^p registers)")
    m = 1 << p
    a_num, a_den = _alpha_rational(m)
    raw_num = a_num * m * m * (1 << _RANK_MAX)
    lc = _lc_table(m)
    per = registers.groupBy("group").agg(
        F.count(F.lit(1)).alias("_npresent"),
        # decimal accumulator: at p=12 a sum of 4096 terms of up to
        # 2^52 reaches 2^64 — past signed BIGINT (DuckDB's sum already
        # widens to HUGEINT; this is the Spark mirror of that widening)
        F.sum(
            F.element_at(F.lit(_POW2), F.col("rho").cast("int")).cast(
                "decimal(38,0)"
            )
        ).alias("_s_present"),
    )
    zero = (F.lit(m) - F.col("_npresent")).alias("hll_zero_regs")
    s_total = F.col("_s_present") + (F.lit(m) - F.col("_npresent")) * F.lit(
        1 << _RANK_MAX
    )
    staged = per.select(
        "group", zero, s_total.alias("_s")
    ).select(
        "group",
        "hll_zero_regs",
        F.expr(
            f"CAST({raw_num} AS DECIMAL(38,0)) "
            f"div (CAST(_s AS DECIMAL(38,0)) * {a_den})"
        ).alias("_raw"),
    )
    est = F.when(
        (F.col("hll_zero_regs") > 0) & (F.col("_raw") <= (5 * m) // 2),
        F.element_at(F.lit(lc), F.col("hll_zero_regs").cast("int")),
    ).otherwise(F.col("_raw"))
    return staged.select(
        "group", "hll_zero_regs", est.cast("bigint").alias("hll_est")
    )


def hll_report_sql(
    src_sql: str, value_expr: str, group_expr: str, p: int
) -> str:
    """DuckDB replay of ``hll_estimate(hll_registers(...))``: per-group
    (group, hll_zero_regs, hll_est)."""
    m = 1 << p
    a_num, a_den = _alpha_rational(m)
    raw_num = a_num * m * m * (1 << _RANK_MAX)
    pow2_lit = "[" + ", ".join(str(v) for v in _POW2) + "]"
    lc_lit = "[" + ", ".join(str(v) for v in _lc_table(m)) + "]"
    reg = hashing.digest_slice_sql(value_expr, _SEED, 0, m)
    suffix = hashing.hex_window_sql(
        hashing.seeded_digest_sql(value_expr, _SEED), 9, _RANK_HEX
    )
    rho = (
        f"CASE WHEN {suffix} = 0 THEN {_RANK_MAX} "
        f"ELSE {_RANK_BITS + 1} - length(printf('%b', {suffix})) END"
    )
    return f"""
WITH _hll_src AS ({src_sql}),
_hll_rows AS (
  SELECT {group_expr} AS "group", {reg} AS register, {rho} AS rho
  FROM _hll_src WHERE {value_expr} IS NOT NULL
),
_hll_regs AS (
  SELECT "group", register, max(rho) AS rho
  FROM _hll_rows GROUP BY 1, 2
),
_hll_per AS (
  SELECT "group",
         {m} - count(*) AS hll_zero_regs,
         sum(({pow2_lit})[rho])::HUGEINT
           + ({m} - count(*))::HUGEINT * {1 << _RANK_MAX} AS s
  FROM _hll_regs GROUP BY 1
),
_hll_raw AS (
  SELECT "group", hll_zero_regs,
         {raw_num}::HUGEINT // (s * {a_den}) AS raw
  FROM _hll_per
)
SELECT "group", CAST(hll_zero_regs AS BIGINT) AS hll_zero_regs,
       CAST(CASE WHEN hll_zero_regs > 0 AND raw <= {(5 * m) // 2}
            THEN ({lc_lit})[hll_zero_regs] ELSE raw END AS BIGINT)
         AS hll_est
FROM _hll_raw
"""


# --- KMV set operations -------------------------------------------------------
# The operation HLL registers cannot answer and KMV can (Beyer et al.
# 2007 §4, public): OVERLAP between two sets from their sketches
# alone. The union sketch of two bottom-k sketches is exact
# (kmv_merge); the fraction of union-sketch hashes present in BOTH
# input sketches is the standard Jaccard estimator rho = |S_u ∩ A ∩ B|
# / k', and intersection-cardinality = rho * union_est. For corpus
# curation this is the "how much does crawl dump A overlap dump B /
# how many users do two event streams share" question, answered from
# two k-row artifacts without re-reading either corpus.
#
# Cross-engine contract: rho stays an integer PAIR (jaccard_num = the
# shared count, jaccard_den = k' = the union-sketch size) and the
# intersection estimate is (num * union_est) div den — every surfaced
# column BIGINT, bit-identical in DuckDB. Below k everything is exact
# (union sketch = union, shared = true intersection).


def kmv_set_ops(sketch: DataFrame, k: int) -> DataFrame:
    """Pairwise set-operation estimates between every unordered pair
    of groups in a KMV sketch frame (the :func:`kmv_sketch` output —
    (group, h, rank) rows, one sketch per group). Emits per pair
    (group_a < group_b):

    - ``union_size``  — rows in the merged bottom-k sketch (k' <= k);
    - ``union_est``   — distinct-count estimate of A ∪ B (exact while
      the merged sketch is not full);
    - ``jaccard_num`` / ``jaccard_den`` — shared-hash count over k'
      (the Jaccard estimator as an exact integer ratio);
    - ``inter_est``   — (jaccard_num * union_est) div jaccard_den.

    100 TB shape: sketches are k rows per group, so this never touches
    raw data — the pair frame is (groups^2 / 2) * 2k rows at most; the
    group list is broadcast into the sketch scan, the union re-rank is
    one window per pair. Run it on persisted sketch artifacts, not on
    a fresh build, when the raw corpus is the expensive part."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by h_k)")
    num = (k - 1) * _HASH_SPACE
    groups = sketch.select("group").distinct()
    pairs = (
        groups.select(F.col("group").alias("_ga"))
        .join(
            F.broadcast(groups.select(F.col("group").alias("_gb"))),
            F.col("_ga") < F.col("_gb"),
        )
    )
    sk = sketch.select("group", "h")
    rows_a = pairs.join(sk, sk["group"] == pairs["_ga"]).select(
        "_ga", "_gb", "h", F.lit(1).alias("_in_a"), F.lit(0).alias("_in_b")
    )
    rows_b = pairs.join(sk, sk["group"] == pairs["_gb"]).select(
        "_ga", "_gb", "h", F.lit(0).alias("_in_a"), F.lit(1).alias("_in_b")
    )
    both = (
        rows_a.unionByName(rows_b)
        .groupBy("_ga", "_gb", "h")
        .agg(F.max("_in_a").alias("_a"), F.max("_in_b").alias("_b"))
    )
    w = Window.partitionBy("_ga", "_gb").orderBy("h")
    merged = both.select(
        "_ga", "_gb", "h", "_a", "_b", F.row_number().over(w).alias("_rk")
    ).where(F.col("_rk") <= k)
    agg = merged.groupBy("_ga", "_gb").agg(
        F.count(F.lit(1)).alias("union_size"),
        F.max(F.when(F.col("_rk") == k, F.col("h"))).alias("_hk"),
        F.sum(F.col("_a") * F.col("_b")).alias("jaccard_num"),
    )
    union_est = F.when(
        F.col("union_size") < k, F.col("union_size")
    ).otherwise(F.expr(f"CAST({num} AS DECIMAL(38,0)) div _hk"))
    return agg.select(
        F.col("_ga").alias("group_a"),
        F.col("_gb").alias("group_b"),
        "union_size",
        union_est.cast("bigint").alias("union_est"),
        F.col("jaccard_num").cast("bigint").alias("jaccard_num"),
        F.col("union_size").cast("bigint").alias("jaccard_den"),
    ).select(
        "group_a",
        "group_b",
        "union_size",
        "union_est",
        "jaccard_num",
        "jaccard_den",
        F.expr("CAST(jaccard_num * union_est AS DECIMAL(38,0)) div jaccard_den")
        .cast("bigint")
        .alias("inter_est"),
    )


def kmv_set_ops_sql(
    src_sql: str, value_expr: str, group_expr: str, k: int
) -> str:
    """DuckDB replay of ``kmv_set_ops(kmv_sketch(...))`` built from the
    raw relation (the oracle builds the same sketches first)."""
    num = (k - 1) * _HASH_SPACE
    return f"""
WITH _so_src AS ({src_sql}),
_so_h AS (
  SELECT DISTINCT {group_expr} AS "group",
         {hashing.seeded_hash_sql(value_expr, _SEED, _HASH_HEX)} AS h
  FROM _so_src WHERE {value_expr} IS NOT NULL
),
_so_sk AS (
  SELECT * FROM (
    SELECT "group", h,
           row_number() OVER (PARTITION BY "group" ORDER BY h) AS rank
    FROM _so_h
  ) WHERE rank <= {k}
),
_so_pairs AS (
  SELECT a."group" AS ga, b."group" AS gb
  FROM (SELECT DISTINCT "group" FROM _so_sk) a
  JOIN (SELECT DISTINCT "group" FROM _so_sk) b ON a."group" < b."group"
),
_so_both AS (
  SELECT ga, gb, h, max(in_a) AS a, max(in_b) AS b
  FROM (
    SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
    FROM _so_pairs p JOIN _so_sk s ON s."group" = p.ga
    UNION ALL
    SELECT p.ga, p.gb, s.h, 0, 1
    FROM _so_pairs p JOIN _so_sk s ON s."group" = p.gb
  ) GROUP BY 1, 2, 3
),
_so_merged AS (
  SELECT * FROM (
    SELECT ga, gb, h, a, b,
           row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
    FROM _so_both
  ) WHERE rk <= {k}
),
_so_agg AS (
  SELECT ga, gb,
         count(*) AS union_size,
         max(CASE WHEN rk = {k} THEN h END) AS hk,
         sum(a * b) AS jaccard_num
  FROM _so_merged GROUP BY 1, 2
),
_so_est AS (
  SELECT ga, gb, union_size, jaccard_num,
         CASE WHEN union_size < {k} THEN union_size::HUGEINT
              ELSE {num}::HUGEINT // hk::HUGEINT END AS union_est
  FROM _so_agg
)
SELECT ga AS group_a, gb AS group_b,
       CAST(union_size AS BIGINT) AS union_size,
       CAST(union_est AS BIGINT) AS union_est,
       CAST(jaccard_num AS BIGINT) AS jaccard_num,
       CAST(union_size AS BIGINT) AS jaccard_den,
       CAST((jaccard_num::HUGEINT * union_est) // union_size AS BIGINT)
         AS inter_est
FROM _so_est
"""
