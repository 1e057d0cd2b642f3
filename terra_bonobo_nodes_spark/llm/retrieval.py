"""Keyword retrieval scoring: BM25 over a document corpus.

The lexical-retrieval counterpart of the embedding ANN family
(llm/similarity.py) — the first stage of every RAG / hybrid-search
stack, and the classic hard-negative miner for retrieval training data.
Okapi BM25 with the Lucene idf (``ln(1 + (N - df + 0.5)/(df + 0.5))``,
always positive).

Scale shape (100 TB corpus, a handful of query terms): the corpus
tokenizes in ONE pass that computes per-doc length AND query-term
frequencies together (an aggregate over the exploded tokens, filtered
to the query terms EARLY — the posting explosion only materializes
matching tokens); N/avgdl reduce to one broadcastable row; scoring is
a projection. One shuffle on doc_id, nothing quadratic, no driver
state beyond the query-term list itself.

Cross-engine determinism: every float step (idf, per-term component)
is an identical IEEE expression tree on Spark and DuckDB; the per-doc
sum over terms accumulates in DECIMAL of 9-dp-rounded components, so
partitioning/order cannot move a last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.text import tokens


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for a bag of query terms. Returns
    ``(id_col, n_terms_hit, score)`` for every document with at least
    one query term; rank/limit downstream for top-k retrieval.

    ``query_terms`` should be pre-normalized (lowercase alphanumerics —
    the ``tokens()`` convention); they are the ONLY terms whose
    postings exist in the plan, so the term list must be small (it is a
    user query, not a table — for scoring many queries at once, join a
    query-term table against the posting relation instead)."""
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    terms = sorted(set(query_terms))

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    # one pass: doc length + per-query-term tf together
    per_doc = toks.select(
        id_col,
        F.size("_toks").alias("_dl"),
        F.explode(
            F.filter(F.col("_toks"), lambda t: t.isin(*terms))
        ).alias("_t"),
    )
    # lazy localCheckpoint: tf is referenced twice (df counts + scoring)
    # and without the barrier Catalyst re-inlines the whole
    # tokenize+explode pipeline into each consumer — a third full
    # corpus scan for a relation of at most |docs|·|terms| tiny rows.
    # Checkpoint (not persist) so the RDD is owned by the plan and
    # freed by the ContextCleaner.
    tf = (
        per_doc.groupBy(id_col, "_dl", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .localCheckpoint(eager=False)
    )
    # corpus stats: N and avgdl (exact decimal mean), one broadcast row
    stats = toks.agg(
        F.count(F.lit(1)).alias("_n"),
        (
            F.sum(F.size("_toks").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avgdl"),
    )
    # per-term document frequency over the matching postings
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    comp = (
        idf
        * (F.col("_tf") * F.lit(k1 + 1.0))
        / (
            F.col("_tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "_t")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            # 9-dp quantization before the decimal sum: the per-term
            # component is order-independent; the SUM then cannot drift
            F.round(comp, 9).cast("decimal(38,12)").alias("_c"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.round(F.sum("_c").cast("double"), 6).alias("score"),
    )


def bm25_sql(
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
    toks_sql: str = (
        "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> length(x) > 0)"
    ),
) -> str:
    """DuckDB mirror of :func:`bm25_scores` for oracle pairing — the
    same expression tree, term filter, 9-dp quantization, and decimal
    accumulation."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH toks AS (SELECT {id_col}, {toks_sql} AS t FROM {table}),
posting AS (
  SELECT {id_col}, len(t) AS dl, unnest(t) AS term FROM toks
),
tf AS (
  SELECT {id_col}, dl, term, count(*) AS tf FROM posting
  WHERE term IN ({in_list}) GROUP BY 1, 2, 3
),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(len(t) AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
comp AS (
  SELECT tf.{id_col},
         CAST(round(
           ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {k1 + 1.0!r})
           / (tf.tf + {k1!r} * (1.0 - {b!r} + {b!r} * tf.dl / stats.avgdl)),
           9) AS DECIMAL(38,12)) AS c
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats
)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       round(CAST(sum(c) AS DOUBLE), 6) AS score
FROM comp GROUP BY 1
"""
