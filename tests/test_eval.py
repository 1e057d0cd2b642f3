"""recall_at_k / recall_summary (llm/eval.py): hand-pinned overlap
arithmetic, missing-query zeros, short-result normalization, and a
live measurement over the repo's own ANN operators."""

from __future__ import annotations

import pytest

from terra_bonobo_nodes_spark.llm.eval import recall_at_k, recall_summary


def _topk(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, rank int"
    )


def test_hand_pinned_overlap(spark):
    exact = _topk(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3),
                          (2, 20, 1), (2, 21, 2), (2, 22, 3)])
    approx = _topk(spark, [(1, 10, 1), (1, 12, 2), (1, 99, 3),
                           (2, 77, 1), (2, 78, 2), (2, 79, 3)])
    got = {r["query_id"]: r for r in recall_at_k(approx, exact, k=3).collect()}
    assert (got[1]["n_exact"], got[1]["n_hits"]) == (3, 2)
    assert got[1]["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert (got[2]["n_exact"], got[2]["n_hits"]) == (3, 0)


def test_rank_filter_applies_to_both_sides(spark):
    exact = _topk(spark, [(1, 10, 1), (1, 11, 2)])
    approx = _topk(spark, [(1, 11, 1), (1, 10, 5)])  # 10 outside its top-1
    got = recall_at_k(approx, exact, k=1).collect()[0]
    # exact top-1 = {10}; approx top-1 = {11} -> no hit
    assert (got["n_exact"], got["n_hits"]) == (1, 0)


def test_missing_query_scores_zero_not_absent(spark):
    exact = _topk(spark, [(1, 10, 1), (2, 20, 1)])
    approx = _topk(spark, [(1, 10, 1)])  # query 2 returned nothing
    got = {r["query_id"]: r for r in recall_at_k(approx, exact, k=5).collect()}
    assert got[2]["n_hits"] == 0 and got[2]["recall"] == 0.0


def test_short_exact_results_normalize(spark):
    exact = _topk(spark, [(1, 10, 1)])  # only one true neighbor
    approx = _topk(spark, [(1, 10, 1), (1, 11, 2)])
    got = recall_at_k(approx, exact, k=10).collect()[0]
    assert got["n_exact"] == 1 and got["recall"] == 1.0


def test_summary_macro_vs_micro(spark):
    exact = _topk(spark, [(1, 10, 1),
                          (2, 20, 1), (2, 21, 2), (2, 22, 3), (2, 23, 4)])
    approx = _topk(spark, [(1, 10, 1), (2, 99, 1)])
    row = recall_summary(approx, exact, k=4, method="demo").collect()[0]
    assert row["method"] == "demo" and row["n_queries"] == 2
    assert row["macro_recall"] == pytest.approx(0.5)      # (1.0 + 0.0)/2
    assert row["micro_recall"] == pytest.approx(0.2)      # 1 hit / 5 exact


def test_k_guard(spark):
    with pytest.raises(ValueError, match="k must"):
        recall_at_k(None, None, k=0)


def test_live_measurement_over_repo_ann(spark):
    """The intended use: measure IVF and PQ-ADC recall against brute
    force on the sf0.001 embeddings — deterministic operators give a
    deterministic report (values asserted only as bounds; the exact
    numbers are corpus-tuning outputs, not contracts)."""
    from terra_bonobo_nodes_spark.llm import similarity
    from terra_bonobo_nodes_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.where(F.col("vec_id") < 6)  # the llm_cosine_topk shape
    exact = similarity.brute_force_topk(emb, queries, k=5)
    ivf = similarity.ivf_topk(emb, queries, k=5, n_clusters=4, n_probe=2)
    rep = recall_summary(ivf, exact, k=5, method="ivf").collect()[0]
    assert rep["n_queries"] == 6
    assert 0.0 <= rep["macro_recall"] <= 1.0
    assert rep["macro_recall"] >= 0.5  # probing half the cells


from pyspark.sql import functions as F  # noqa: E402


def test_l2_normalize_contract(spark):
    from terra_bonobo_nodes_spark.llm.similarity import l2_normalize

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["n"]
        for r in df.select(
            "vec_id", l2_normalize("embedding").alias("n")
        ).collect()
    }
    assert rows[0] == [0.6, 0.8]
    assert rows[1] is None  # zero vector: NULL, not a division blow-up
    assert rows[2] is None


def test_l2_normalize_sql_mirror(spark):
    import duckdb

    from terra_bonobo_nodes_spark.llm.similarity import (
        l2_normalize,
        l2_normalize_sql,
    )

    vecs = [[1.0, 2.0, 2.0], [0.5, 0.5, 0.1], [0.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["n"]
        for r in df.select(
            "vec_id", l2_normalize("embedding").alias("n")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v})" for i, v in enumerate(vecs))
        + ") t(vec_id, embedding)"
    )
    want = dict(
        con.execute(
            f"SELECT vec_id, {l2_normalize_sql('embedding')} FROM v"
        ).fetchall()
    )
    assert got == want  # exact doubles, both engines
