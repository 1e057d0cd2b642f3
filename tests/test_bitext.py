"""Margin-based bitext mining (llm/bitext.py): hub deflation, mutual
semantics, guard rails, blocked-path consistency, and the DuckDB
mirror's value parity."""

from __future__ import annotations

import duckdb
import pytest

from terra_bonobo_nodes_spark.llm import bitext
from tests.conftest import plans_cross_join


def _df(spark, rows, side):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def corpus(spark):
    # src 0 <-> tgt 100 and src 1 <-> tgt 101 are planted parallels
    # (near-identical directions); tgt 102 is a HUB: moderately close
    # to every src vector, so raw cosine would pair it with src 2 but
    # the margin deflates it below the planted pairs.
    src = _df(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.05]),
            (1, [0.0, 1.0, 0.0, 0.05]),
            (2, [0.6, 0.6, 0.5, 0.1]),
        ],
        "src",
    )
    tgt = _df(
        spark,
        [
            (100, [0.99, 0.02, 0.0, 0.05]),
            (101, [0.02, 0.99, 0.0, 0.05]),
            (102, [0.5, 0.5, 0.5, 0.5]),  # the hub
        ],
        "tgt",
    )
    return src, tgt


def test_planted_parallels_win_with_margin(spark, corpus):
    src, tgt = corpus
    out = bitext.margin_knn_pairs(
        src, tgt, k=2, min_margin=1.0, mutual_only=True
    ).collect()
    got = {(r["src_id"], r["tgt_id"]) for r in out}
    assert (0, 100) in got and (1, 101) in got
    by_pair = {(r["src_id"], r["tgt_id"]): r for r in out}
    for key in [(0, 100), (1, 101)]:
        assert by_pair[key]["margin"] > 1.0
        assert by_pair[key]["mutual"] is True


def test_mutual_only_false_keeps_one_sided(spark, corpus):
    src, tgt = corpus
    strict = bitext.margin_knn_pairs(
        src, tgt, k=2, min_margin=0.0, mutual_only=True
    ).count()
    loose = bitext.margin_knn_pairs(
        src, tgt, k=2, min_margin=0.0, mutual_only=False
    ).count()
    assert loose >= strict
    assert loose == 9  # all candidate pairs at margin >= 0


def test_guard_refuses_unblocked_scale(spark, corpus):
    src, tgt = corpus
    with pytest.raises(ValueError, match="max_rows"):
        bitext.margin_knn_pairs(src, tgt, max_rows=2)
    # explicit opt-out works
    assert bitext.margin_knn_pairs(src, tgt, max_rows=None).count() >= 0
    with pytest.raises(ValueError, match="k must"):
        bitext.margin_knn_pairs(src, tgt, k=0)


def test_empty_side_and_no_cross_join(spark, corpus):
    src, tgt = corpus
    empty = _df(spark, [], "src")
    assert bitext.margin_knn_pairs(empty, tgt, max_rows=None).collect() == []
    assert bitext.margin_knn_pairs(src, empty, max_rows=None).collect() == []
    assert not plans_cross_join(bitext.margin_knn_pairs(src, tgt, max_rows=None))


def test_single_block_equals_all_pairs(spark, corpus):
    src, tgt = corpus
    from pyspark.sql import functions as F

    sb = src.withColumn("blk", F.lit(0))
    tb = tgt.withColumn("blk", F.lit(0))
    a = {
        (r["src_id"], r["tgt_id"]): (r["cos_sim"], r["margin"])
        for r in bitext.margin_knn_pairs(
            src, tgt, k=2, min_margin=0.5, mutual_only=False
        ).collect()
    }
    b = {
        (r["src_id"], r["tgt_id"]): (r["cos_sim"], r["margin"])
        for r in bitext.margin_knn_pairs(
            sb, tb, k=2, min_margin=0.5, mutual_only=False, block_col="blk"
        ).collect()
    }
    assert a == b  # bit-identical, not approximately equal


def test_null_embeddings_dropped(spark, corpus):
    src, tgt = corpus
    from pyspark.sql import functions as F

    noisy = src.unionAll(
        _df(spark, [(9, None)], "src")
    )
    a = bitext.margin_knn_pairs(src, tgt, k=2, min_margin=0.0,
                                mutual_only=False).count()
    b = bitext.margin_knn_pairs(noisy, tgt, k=2, min_margin=0.0,
                                mutual_only=False).count()
    assert a == b


def test_sql_mirror_value_parity(spark, corpus):
    src, tgt = corpus
    out = bitext.margin_knn_pairs(
        src, tgt, k=2, min_margin=0.9, mutual_only=False
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({r['vec_id']}, {list(map(float, r['embedding']))})"
            for r in src.collect()
        )
        + ") t(vec_id, embedding)"
    )
    con.execute(
        "CREATE TABLE t2 AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({r['vec_id']}, {list(map(float, r['embedding']))})"
            for r in tgt.collect()
        )
        + ") t(vec_id, embedding)"
    )
    sql = bitext.margin_knn_pairs_sql(
        "SELECT * FROM s", "SELECT * FROM t2", k=2, min_margin=0.9,
        mutual_only=False,
    )
    want = {
        (r[0], r[1]): (r[2], r[3], r[4]) for r in con.execute(sql).fetchall()
    }
    got = {
        (r["src_id"], r["tgt_id"]): (r["cos_sim"], r["margin"], r["mutual"])
        for r in out
    }
    assert got == want  # exact doubles, both engines


# --- hypothesis: Spark margins == independent pure-Python replay -------------


import math  # noqa: E402

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _py_margin_pairs(src, tgt, k, min_margin):
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y  # left fold, like dot_exact
        return acc

    def norm(a):
        return math.sqrt(dot(a, a))

    cos = {}
    for i, va in src:
        for j, vb in tgt:
            cos[(i, j)] = dot(va, vb) / (norm(va) * norm(vb))
    rs = {}
    for i, _ in src:
        order = sorted(((-cos[(i, j)], j) for j, _ in tgt))
        rs.update({(i, j): r + 1 for r, (_, j) in enumerate(order)})
    rt = {}
    for j, _ in tgt:
        order = sorted(((-cos[(i, j)], i) for i, _ in src))
        rt.update({(i, j): r + 1 for r, (_, i) in enumerate(order)})
    avg_s = {
        i: sum(cos[(i, j)] for j, _ in tgt if rs[(i, j)] <= k)
        / min(k, len(tgt))
        for i, _ in src
    }
    avg_t = {
        j: sum(cos[(i, j)] for i, _ in src if rt[(i, j)] <= k)
        / min(k, len(src))
        for j, _ in tgt
    }
    out = {}
    for (i, j), c in cos.items():
        m = c / ((avg_s[i] + avg_t[j]) / 2.0)
        if m >= min_margin:
            out[(i, j)] = (rs[(i, j)] == 1 and rt[(i, j)] == 1)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.floats(min_value=0.0625, max_value=2, allow_nan=False,
                           width=16),
                 min_size=3, max_size=3),
        min_size=2, max_size=4,
    ),
    st.lists(
        st.lists(st.floats(min_value=0.0625, max_value=2, allow_nan=False,
                           width=16),
                 min_size=3, max_size=3),
        min_size=2, max_size=4,
    ),
)
def test_hypothesis_margins_match_python_reference(spark, sv, tv):
    # strictly positive coords: no zero vectors, margins well-defined;
    # width=16 floats make exact float64 replay trivially stable
    src = [(i, [float(x) for x in v]) for i, v in enumerate(sv)]
    tgt = [(100 + j, [float(x) for x in v]) for j, v in enumerate(tv)]
    sdf = spark.createDataFrame(src, "vec_id long, embedding array<double>")
    tdf = spark.createDataFrame(tgt, "vec_id long, embedding array<double>")
    out = bitext.margin_knn_pairs(
        sdf, tdf, k=2, min_margin=1.0, mutual_only=False
    ).collect()
    got = {(r["src_id"], r["tgt_id"]): r["mutual"] for r in out}
    want = _py_margin_pairs(src, tgt, k=2, min_margin=1.0)
    assert got == want
