"""Vocabulary coverage / OOV-rate report (llm/text.py::vocab_coverage,
top_tokens): exact ppm arithmetic, NULL-text semantics, broadcast-join
plan, and the TakeOrderedAndProject top-k builder."""

from __future__ import annotations

import pytest

from terra_bonobo_nodes_spark.llm.text import top_tokens, vocab_coverage
from terra_bonobo_nodes_spark.plans.queries_llm import TOKS_SQL
from tests.conftest import plans_cross_join, rows_per_layout

# DuckDB reference for the per-language OOV report against the corpus's
# own top-_VC_K vocabulary. The spine join is IS NOT DISTINCT FROM, not
# USING(lang): Spark's groupBy collapses a NULL lang into a real group
# with actual counts, while a plain equi-join would never match the NULL
# spine row and report (0, 0, NULL).
_VC_K = 256
VOCAB_COVERAGE_ORACLE = f"""
WITH _toks AS (
  SELECT lang, unnest({TOKS_SQL}) AS tok
  FROM (SELECT lang, coalesce(text, '') AS text FROM documents)
),
_vocab AS (
  SELECT tok AS vtok FROM (
    SELECT tok, count(*) AS n FROM _toks GROUP BY tok
  ) ORDER BY n DESC, tok ASC LIMIT {_VC_K}
),
_grps AS (SELECT DISTINCT lang FROM documents),
_agg AS (
  SELECT t.lang,
         count(*) AS n_tokens,
         sum(CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM _toks t LEFT JOIN _vocab v ON t.tok = v.vtok
  GROUP BY t.lang
)
SELECT g.lang,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
       CAST(CASE WHEN coalesce(a.n_tokens, 0) > 0
            THEN (a.n_oov * 1000000) // a.n_tokens END AS BIGINT)
         AS oov_rate_ppm
FROM _grps g LEFT JOIN _agg a ON g.lang IS NOT DISTINCT FROM a.lang
"""


def _docs(spark):
    return spark.createDataFrame(
        [
            ("web", "the cat sat on the mat"),
            ("web", "the dog BARKED!"),
            ("code", "def cat(): return mat"),
            ("code", None),
            ("empty", None),
        ],
        "source string, text string",
    )


def _vocab(spark, words):
    return spark.createDataFrame([(w,) for w in words], "token string")


def test_oov_ppm_exact(spark):
    vocab = _vocab(spark, ["the", "cat", "mat", "on", "sat"])
    got = {
        r["group"]: (r["n_tokens"], r["n_oov"], r["oov_rate_ppm"])
        for r in vocab_coverage(_docs(spark), vocab).collect()
    }
    # web: tokens = the cat sat on the mat the dog barked = 9; oov dog+barked
    assert got["web"] == (9, 2, (2 * 1_000_000) // 9)
    # code: def cat return mat -> oov def+return
    assert got["code"] == (4, 2, 500_000)
    # all-NULL group: zero tokens, NULL rate
    assert got["empty"] == (0, 0, None)


def test_vocab_duplicates_do_not_double_count(spark):
    vocab = _vocab(spark, ["the", "the", "cat"])
    got = {
        r["group"]: r["n_tokens"]
        for r in vocab_coverage(_docs(spark), vocab).collect()
    }
    assert got["web"] == 9  # left join against distinct vocab: no fanout


def test_null_lang_group_matches_oracle(spark):
    """A NULL lang collapses into a real group on the Spark side
    (groupBy semantics); the reference's spine join must use IS NOT
    DISTINCT FROM so it reports that group's actual counts instead of
    (0, 0, NULL)."""
    rows = [
        (1, "en", "the cat sat"),
        (2, None, "dog dog dog barked"),
        (3, "en", "the the mat"),
        (4, None, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    vocab = top_tokens(
        docs.withColumnRenamed("lang", "source"), _VC_K
    ).select("token")
    got = {
        r["group"]: (r["n_tokens"], r["n_oov"], r["oov_rate_ppm"])
        for r in vocab_coverage(
            docs.select("lang", "text"), vocab, group_col="lang"
        ).collect()
    }
    import duckdb

    con = duckdb.connect()  # fresh: the session fixture views `documents`
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'en', 'the cat sat'), (2, NULL, 'dog dog dog barked'), "
        "(3, 'en', 'the the mat'), (4, NULL, NULL)"
        ") t(doc_id, lang, text)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(VOCAB_COVERAGE_ORACLE).fetchall()
    }
    con.close()
    assert got == want
    assert want[None][0] == 4  # the NULL-lang group carries real counts


def test_top_tokens_tiebreak_and_limit(spark):
    df = spark.createDataFrame(
        [("x", "b b a a c"), ("y", None)], "source string, text string"
    )
    got = [(r["token"], r["n"]) for r in top_tokens(df, 2).collect()]
    assert got == [("a", 2), ("b", 2)]  # count tie -> token asc
    with pytest.raises(ValueError):
        top_tokens(df, 0)


def test_top_k_plan_is_take_ordered(spark):
    df = _docs(spark)
    plan = top_tokens(df, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_coverage_plan_broadcasts_vocab(spark):
    df = _docs(spark)
    vocab = _vocab(spark, ["the"])
    plan = (
        vocab_coverage(df, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_report_layout_invariant_and_empty(spark):
    """The top-k boundary (count desc, token asc) and the coverage join
    give the same report under any shuffle partition count, with no
    cross join; an empty corpus gives an empty vocabulary and report."""
    rows = [
        (["en", "fr", None][i % 3], " ".join(f"w{(i * j) % 17}" for j in range(6)))
        for i in range(90)
    ]
    docs = spark.createDataFrame(rows, "lang string, text string").repartition(3)

    def report():
        vocab = top_tokens(docs, 9).select("token")  # cuts through count ties
        return vocab_coverage(docs, vocab, group_col="lang")

    base, hostile = rows_per_layout(spark, report)
    assert len(base) == 3 and hostile == base
    assert not plans_cross_join(report())
    empty = spark.createDataFrame([], "lang string, text string")
    assert top_tokens(empty, 5).collect() == []
    report = vocab_coverage(empty, top_tokens(empty, 5), group_col="lang")
    assert report.collect() == []
