"""DSIR importance weights: hashed unigram+bigram multinomial log
ratio of a target sample vs the raw corpus."""

from __future__ import annotations

import duckdb

from terra_bonobo_nodes_spark.llm.corpus import dsir_logweights
from terra_bonobo_nodes_spark.plans.queries_llm import TOKS_SQL

# Two "dialects" with disjoint vocabulary; target is drawn from A.
_A = [
    "alpha beta gamma delta alpha beta",
    "beta gamma delta alpha gamma beta",
    "gamma alpha beta delta beta alpha",
]
_B = [
    "zonk quux blarg wibble zonk quux",
    "quux blarg wibble zonk blarg quux",
    "blarg zonk quux wibble quux zonk",
]


def _run(spark, raw_docs, target_docs, **kw):
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(raw_docs)], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(target_docs)],
        "doc_id long, text string",
    )
    out = dsir_logweights(raw, target, **kw).collect()
    return {r["doc_id"]: r.asDict() for r in out}


def test_target_like_docs_score_higher(spark):
    rows = _run(spark, _A + _B, _A)
    a_weights = [rows[i]["dsir_logweight"] for i in range(3)]
    b_weights = [rows[i]["dsir_logweight"] for i in range(3, 6)]
    assert min(a_weights) > max(b_weights)


def test_empty_and_null_text(spark):
    raw = spark.createDataFrame(
        [(0, _A[0]), (1, ""), (2, None)], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, _A[1])], "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in dsir_logweights(raw, target).collect()}
    assert set(rows) == {0, 1, 2}  # empty docs still present
    for i in (1, 2):
        assert rows[i]["dsir_n_features"] == 0
        assert rows[i]["dsir_logweight"] == 0.0
    assert rows[0]["dsir_n_features"] == 11  # 6 unigrams + 5 bigrams


def test_deterministic(spark):
    r1 = _run(spark, _A + _B, _A)
    r2 = _run(spark, _A + _B, _A)
    assert r1 == r2


def test_feature_count_is_unigrams_plus_bigrams(spark):
    rows = _run(spark, ["one two three", "single"], _A)
    assert rows[0]["dsir_n_features"] == 5  # 3 + 2
    assert rows[1]["dsir_n_features"] == 1  # 1 + 0


def test_bucket_collisions_tolerated(spark):
    # tiny bucket count: everything collides, weights still finite and
    # the transform stays total (no div-by-zero on empty buckets)
    rows = _run(spark, _A + _B, _A, buckets=2)
    assert all(abs(r["dsir_logweight"]) < 100.0 for r in rows.values())
    assert all(r["dsir_n_features"] == 11 for r in rows.values())


def _dsir_reference(buckets: int) -> str:
    """Independent DuckDB replay over ``documents(doc_id, lang, text)``
    with the lang = 'en' slice as the target: the same hashed buckets
    (hash32's md5 mirror), add-one smoothing and DECIMAL(20,6)-quantized
    log ratios, so the weights must match exactly."""
    return f"""
WITH toks AS (
  SELECT doc_id, lang, {TOKS_SQL} AS t FROM documents
), feats AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                          i -> t[i] || ' ' || t[i + 1]))) AS f
  FROM toks
), fb AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5(f), 1, 8))::BIGINT % {buckets}) AS b
  FROM feats
), fc AS (
  SELECT doc_id, b, count(*) AS c FROM fb GROUP BY 1, 2
), q AS (
  SELECT b, sum(c) AS qc FROM fc GROUP BY 1
), tgt AS (
  SELECT b, count(*) AS tc FROM fb WHERE lang = 'en' GROUP BY 1
), model AS (
  SELECT coalesce(q.b, tgt.b) AS b,
         coalesce(qc, 0) AS qc, coalesce(tc, 0) AS tc
  FROM q FULL OUTER JOIN tgt ON q.b = tgt.b
), tot AS (
  SELECT sum(qc) AS qt, sum(tc) AS tt FROM model
), lr AS (
  SELECT b,
         CAST(ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + {buckets} AS DOUBLE))
              AS DECIMAL(20,6))
       - CAST(ln(CAST(qc + 1 AS DOUBLE) / CAST(qt + {buckets} AS DOUBLE))
              AS DECIMAL(20,6)) AS lr
  FROM model CROSS JOIN tot
), sc AS (
  SELECT fc.doc_id, sum(c) AS m, sum(lr * c) AS lw
  FROM fc JOIN lr ON lr.b = fc.b GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(m, 0) AS BIGINT) AS dsir_n_features,
       CAST(coalesce(lw, 0) AS DOUBLE) AS dsir_logweight
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
"""


def test_weights_match_duckdb_reference(spark):
    docs = [(i, "en", t) for i, t in enumerate(_A)] + [
        (10 + i, "fr", t) for i, t in enumerate(_B)
    ] + [(20, "fr", None), (21, "en", "alpha zonk")]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    got = {}
    for buckets in (10_000, 16):  # sparse, then colliding buckets
        target = df.where(df.lang == "en").select("doc_id", "text")
        got[buckets] = sorted(
            tuple(r)
            for r in dsir_logweights(
                df.select("doc_id", "text"), target, buckets=buckets
            ).collect()
        )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", docs)
    for buckets, rows in got.items():
        want = sorted(con.execute(_dsir_reference(buckets)).fetchall())
        assert rows == want, buckets
    con.close()


def test_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dsir_logweights(empty, empty).collect() == []
