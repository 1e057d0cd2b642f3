"""Bitext mining — margin-based cross-lingual pair extraction.

Artetxe & Schwenk 2019 ("Margin-based Parallel Corpus Mining with
Multilingual Sentence Embeddings", public; the LASER / CCMatrix
recipe): candidate translation pairs between a source and a target
collection are scored not by raw cosine — which a hubness-prone
embedding space inflates for certain vectors against EVERYTHING — but
by the RATIO margin

    margin(x, y) = cos(x, y) / ((avgk(x) + avgk(y)) / 2)

where ``avgk(v)`` is the mean cosine of ``v``'s k nearest neighbors
in the OTHER collection. A hub's denominator is large, deflating its
spurious pairs; a genuinely parallel pair scores well above its
neighborhoods. Mining keeps pairs above a margin threshold,
optionally restricted to mutual best matches (the strictest
"intersection" strategy of the paper).

Determinism: cosines ride :func:`llm.similarity.dot_exact`'s float64
left fold (bit-identical cross-engine), neighbor ranks break ties by
id, and avgk is a mean over an EXACT count-k window — so a DuckDB
oracle replays scores, margins and verdicts value-for-value.

100 TB shape: the all-pairs form below is the oracle-companion /
bounded-input path (the ``embedding_cosine_pairs`` convention — a
guarded ``max_rows`` refuses unbounded cross joins). At scale, pass
``block_col`` (IVF cell, LSH bucket — both trainable with this
repo's :mod:`llm.kmeans` / :mod:`llm.similarity`) and candidates come
from a blocked equi-join instead; margins are then computed within
the candidate set, exactly how production LASER mining shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import similarity


def margin_knn_pairs(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    min_margin: float = 1.0,
    mutual_only: bool = True,
    block_col: str | None = None,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """(src_id, tgt_id, cos_sim, margin, mutual) — mined pairs with
    ratio margin >= ``min_margin`` (and mutual-best-match when
    ``mutual_only``).

    Candidates: the src x tgt cross product, or the ``block_col``
    equi-join when given (the scale path). Without a block column the
    operator REFUSES inputs larger than ``max_rows`` on either side
    (``max_rows=None`` opts out) — the ``brute_force_topk`` guard:
    never an unbounded cartesian by accident.

    avgk(v) is the mean cosine of v's top-``k`` neighbors among the
    candidates (ties by partner id) — with a block column that is the
    paper's "within shard" approximation, stated rather than hidden.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a_cols = [F.col(id_col).alias("src_id"), F.col(vec_col).alias("_va")]
    b_cols = [F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_vb")]
    if block_col is not None:
        a_cols.append(F.col(block_col).alias("_blk"))
        b_cols.append(F.col(block_col).alias("_blk"))
    a = src.where(F.col(vec_col).isNotNull()).select(*a_cols).withColumn(
        "_na", similarity.norm("_va")
    )
    b = tgt.where(F.col(vec_col).isNotNull()).select(*b_cols).withColumn(
        "_nb", similarity.norm("_vb")
    )
    if block_col is None and max_rows is not None:
        # guard the POST-filter frames (review finding: counting raw
        # inputs refused corpora whose effective candidate count — the
        # non-NULL rows that actually enter the cross join — was fine)
        for side, df in (("src", a), ("tgt", b)):
            if df.limit(int(max_rows) + 1).count() > int(max_rows):
                raise ValueError(
                    f"{side} side exceeds max_rows={max_rows} without a "
                    "block_col — blocked mining (IVF cell / LSH bucket) "
                    "is the scale path; max_rows=None opts out explicitly"
                )
    if block_col is not None:
        cand = a.join(b, "_blk")
    else:
        cand = a.crossJoin(F.broadcast(b))
    scored = cand.select(
        "src_id",
        "tgt_id",
        (
            similarity.dot_exact("_va", "_vb") / (F.col("_na") * F.col("_nb"))
        ).alias("cos_sim"),
    )
    w_src = Window.partitionBy("src_id").orderBy(
        F.col("cos_sim").desc(), F.col("tgt_id").asc()
    )
    w_tgt = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_sim").desc(), F.col("src_id").asc()
    )
    # localCheckpoint: three consumers (both avgk aggregates + the
    # final margin join) would otherwise re-execute the candidate
    # join + double window per branch (the corpus/fuzzy/graph
    # multi-consumer-lineage convention)
    ranked = scored.select(
        "src_id",
        "tgt_id",
        "cos_sim",
        F.row_number().over(w_src).alias("_rs"),
        F.row_number().over(w_tgt).alias("_rt"),
    ).localCheckpoint(eager=False)
    avg_src = (
        ranked.where(F.col("_rs") <= int(k))
        .groupBy("src_id")
        .agg(F.avg("cos_sim").alias("_avg_s"))
    )
    avg_tgt = (
        ranked.where(F.col("_rt") <= int(k))
        .groupBy("tgt_id")
        .agg(F.avg("cos_sim").alias("_avg_t"))
    )
    m = (
        ranked.join(avg_src, "src_id")
        .join(avg_tgt, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cos_sim",
            (
                F.col("cos_sim")
                / ((F.col("_avg_s") + F.col("_avg_t")) / F.lit(2.0))
            ).alias("margin"),
            ((F.col("_rs") == 1) & (F.col("_rt") == 1)).alias("mutual"),
        )
    )
    out = m.where(F.col("margin") >= float(min_margin))
    if mutual_only:
        out = out.where(F.col("mutual"))
    return out


def margin_knn_pairs_sql(
    src_sql: str,
    tgt_sql: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    min_margin: float = 1.0,
    mutual_only: bool = True,
) -> str:
    """DuckDB restatement of the all-pairs form — identical fold-order
    cosines, identical tie-breaks, identical margin arithmetic."""
    dot = similarity.dot_exact_sql("a.v", "b.v")
    return f"""
WITH sa AS (
  SELECT {id_col} AS src_id,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
  FROM ({src_sql}) WHERE {vec_col} IS NOT NULL
), sb AS (
  SELECT {id_col} AS tgt_id,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
  FROM ({tgt_sql}) WHERE {vec_col} IS NOT NULL
), na AS (SELECT src_id, v, {similarity.norm_sql('v')} AS n FROM sa),
nb AS (SELECT tgt_id, v, {similarity.norm_sql('v')} AS n FROM sb),
scored AS (
  SELECT a.src_id, b.tgt_id, {dot} / (a.n * b.n) AS cos_sim
  FROM na a CROSS JOIN nb b
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY cos_sim DESC, tgt_id ASC) AS rs,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY cos_sim DESC, src_id ASC) AS rt
  FROM scored
), avs AS (
  SELECT src_id, avg(cos_sim) AS avg_s FROM ranked WHERE rs <= {int(k)}
  GROUP BY 1
), avt AS (
  SELECT tgt_id, avg(cos_sim) AS avg_t FROM ranked WHERE rt <= {int(k)}
  GROUP BY 1
), m AS (
  SELECT r.src_id, r.tgt_id, r.cos_sim,
         r.cos_sim / ((avs.avg_s + avt.avg_t) / 2.0) AS margin,
         (r.rs = 1 AND r.rt = 1) AS mutual
  FROM ranked r JOIN avs USING (src_id) JOIN avt USING (tgt_id)
)
SELECT src_id, tgt_id, cos_sim, margin, mutual FROM m
WHERE margin >= {float(min_margin)}{" AND mutual" if mutual_only else ""}
"""
