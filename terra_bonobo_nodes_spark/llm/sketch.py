"""Count-Min Sketch token frequencies — bounded-memory heavy hitters.

An exact token-frequency table over a 100 TB corpus is a groupBy whose
key cardinality tracks the vocabulary (billions of keys with web
typos/code/UUIDs); a Count-Min Sketch (Cormode & Muthukrishnan 2005,
public) answers point frequency queries from ``d x w`` integer
counters — constant memory, mergeable across partitions/days by plain
addition, never undercounting:

- **build**: every token occurrence increments one counter per hash
  row (row i's position = the i-th 32-bit slice of ONE md5 digest of
  the token, mod w — one digest per token, not d; d <= 4). Distributed as
  explode-to-(row, position) + ONE count aggregate on (row, position)
  keys (bounded key space: d*w), then a bounded collect of the d*w
  counters (128 KiB at the default 4 x 4096 BIGINTs) — the
  ivf_train / bloom precedent: the sketch IS the broadcast artifact.
- **estimate**: min over the d counters addressed by the token's
  positions — a pure Column expression over d plan-literal arrays
  (zero joins, zero Python). Guarantees estimate >= true count
  (deterministically, not probabilistically); overestimate is bounded
  by ~2N/w per row with high probability.

Cross-engine contract: positions are md5-digest slices (identical in
both engines) and every quantity is an exact BIGINT,
so a DuckDB oracle replays build AND estimate bit-for-bit — no float
anywhere (the cleanest oracle class in the repo).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import hashing

_SEED = "tbns-cms-v1"
# the d rows address via the d 32-bit slices of ONE md5 digest per
# token (hashing.digest_slice)
_MAX_D = hashing.DIGEST_SLICES


def cms_cells(
    tokens: DataFrame,
    token_col: str = "token",
    d: int = 4,
    w: int = 1 << 12,
) -> DataFrame:
    """The sketch's distributed body: (i, p, n) counter cells from a
    token-occurrence DataFrame. Runs UNCHANGED over a readStream —
    the aggregation's key space is BOUNDED at d*w by construction, so
    complete-output-mode streaming state is constant-size regardless
    of corpus/vocabulary growth (the property that makes CMS the
    streaming-frequency primitive; pinned batch==stream by
    tests/test_sketch.py). NULL tokens digest to NULL and are dropped
    (a NULL can never be estimated — cms_estimate(NULL) is NULL)."""
    if not 1 <= d <= _MAX_D:
        raise ValueError(f"d must be in [1, {_MAX_D}] (one md5 digest)")
    digests = tokens.select(
        hashing.seeded_digest(F.col(token_col), _SEED).alias("_dg")
    ).where(
        F.col("_dg").isNotNull()
    )
    cells = digests.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        hashing.digest_slice(F.col("_dg"), i, w).alias("p"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(
        F.col("c.i").alias("i"), F.col("c.p").alias("p")
    ).agg(F.count(F.lit(1)).alias("n"))


def cms_build(
    tokens: DataFrame,
    token_col: str = "token",
    d: int = 4,
    w: int = 1 << 12,
) -> list[list[int]]:
    """Build the sketch from a token-occurrence DataFrame (one row per
    occurrence). Returns ``d`` rows of ``w`` BIGINT counters. The only
    driver-side materialization is :func:`cms_cells`' (row, position,
    count) triples — at most ``d*w`` of them regardless of corpus
    size; counting runs distributed with map-side partial aggregation
    on the bounded (row, position) key space."""
    rows = cms_cells(tokens, token_col, d, w).collect()
    counters = [[0] * w for _ in range(d)]
    for r in rows:
        counters[r["i"]][r["p"]] = r["n"]
    return counters


def cms_estimate(
    token: Column | str, counters: list[list[int]]
) -> Column:
    """Point-frequency estimate: min over the d counters addressed by
    the token — a pure Column expression over plan-literal arrays
    (1-based element_at). estimate >= true count always."""
    c = F.col(token) if isinstance(token, str) else token
    d, w = len(counters), len(counters[0])
    if not 1 <= d <= _MAX_D:
        raise ValueError(
            f"d must be in [1, {_MAX_D}] (one md5 digest) — got {d} "
            "counter rows; estimates beyond the digest's slices would "
            "silently use only the first 4"
        )
    dg = hashing.seeded_digest(c, _SEED)
    ests = [
        F.element_at(
            F.lit(counters[i]), hashing.digest_slice(dg, i, w).cast("int") + 1
        )
        for i in range(d)
    ]
    # explicit NULL guard: element_at with a NULL index does NOT
    # reliably return NULL (observed returning the last element), so a
    # NULL token must short-circuit to a NULL estimate here
    return F.when(c.isNotNull(), F.least(*ests))


def cms_inner_product(
    cells_a: DataFrame, cells_b: DataFrame
) -> DataFrame:
    """Join-size / inner-product estimation from two CMS cell frames
    (Cormode & Muthukrishnan 2005 §4.2, public — the sketch answer to
    "how big will this join be?" asked BEFORE paying for the join):
    for each counter row ``i``, ``dot_i = sum_p nA[i][p] * nB[i][p]``
    over-counts the true ``sum_k fA(k) * fB(k)`` only by hash
    collisions, so ``min_i dot_i`` is a never-undercounting estimate
    with the standard (epsilon * N_a * N_b, delta) guarantee. Both
    frames must come from :func:`cms_cells` with the SAME (d, w) — the
    shared seed/positions are fixed by this module.

    Emits ONE row: (est_join_size, d_used). Plan: the cell frames are
    bounded at d*w rows each, so this is an equi-join and two tiny
    aggregates over sketch-sized data — the raw tables are never
    touched. Every value BIGINT (cells are counts; products of two
    corpus counts fit 63 bits for anything under ~3e9 rows per cell —
    at that scale raise w).

    The min runs over ALL d counter rows, not just rows where the two
    frames share a populated cell: a row with zero overlapping cells
    proves ``dot_i = 0`` (the join is empty at that hash row), so the
    per-row dots are stitched onto a spine of every ``i`` present in
    either frame with 0 fill before taking the min — otherwise
    partially-colliding disjoint inputs would report a positive
    estimate (ADVICE r15). ``d_used`` is the spine size: d whenever
    either input is non-empty, 0 only when both sketches are empty."""
    a = cells_a.select("i", "p", F.col("n").alias("_na"))
    b = cells_b.select("i", "p", F.col("n").alias("_nb"))
    spine = a.select("i").unionByName(b.select("i")).distinct()
    dots = (
        a.join(b, ["i", "p"])
        .groupBy("i")
        .agg(F.sum(F.col("_na") * F.col("_nb")).alias("_dot"))
    )
    full = spine.join(dots, "i", "left").select(
        F.coalesce(F.col("_dot"), F.lit(0)).alias("_dot")
    )
    return full.agg(
        F.coalesce(F.min("_dot"), F.lit(0)).cast("long").alias(
            "est_join_size"
        ),
        F.count(F.lit(1)).cast("int").alias("d_used"),
    )


def cms_inner_product_sql(
    src_a: str, src_b: str, key_a: str, key_b: str, d: int, w: int
) -> str:
    """DuckDB replay of ``cms_inner_product(cms_cells(A), cms_cells(B))``
    built from the two raw relations."""

    def cells(src: str, key: str, tag: str) -> str:
        union = "\nUNION ALL ".join(
            f"SELECT {i} AS i, {hashing.digest_slice_sql(key, _SEED, i, w)} AS p"
            f" FROM ({src}) WHERE {key} IS NOT NULL"
            for i in range(d)
        )
        return (
            f"{tag} AS (SELECT i, p, CAST(count(*) AS BIGINT) AS n"
            f" FROM ({union}) GROUP BY 1, 2)"
        )

    return f"""
WITH {cells(src_a, key_a, "_ca")},
{cells(src_b, key_b, "_cb")},
_spine AS (
  SELECT DISTINCT i FROM (SELECT i FROM _ca UNION ALL SELECT i FROM _cb)
),
_dots AS (
  SELECT a.i, sum(a.n * b.n) AS dot
  FROM _ca a JOIN _cb b USING (i, p) GROUP BY a.i
),
_full AS (
  SELECT s.i, coalesce(d.dot, 0) AS dot
  FROM _spine s LEFT JOIN _dots d USING (i)
)
SELECT CAST(coalesce(min(dot), 0) AS BIGINT) AS est_join_size,
       CAST(count(*) AS INT) AS d_used
FROM _full
"""
