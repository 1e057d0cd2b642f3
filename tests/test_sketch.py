"""Count-Min Sketch (llm/sketch.py): counters vs a pure-Python
reference, the never-undercount guarantee, estimate exactness for
isolated tokens, merge-by-addition, and the zero-exchange estimate
plan."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.sketch import (
    _SEED,
    cms_build,
    cms_cells,
    cms_estimate,
)

D, W = 4, 1 << 12


def _py_pos(tok: str, i: int, w: int) -> int:
    h = hashlib.md5(f"{_SEED}-{tok}".encode()).hexdigest()
    return int(h[8 * i : 8 * i + 8], 16) % w


def _py_build(tokens: list[str], d: int, w: int) -> list[list[int]]:
    counters = [[0] * w for _ in range(d)]
    for t in tokens:
        for i in range(d):
            counters[i][_py_pos(t, i, w)] += 1
    return counters


def _py_estimate(counters, tok: str) -> int:
    return min(c[_py_pos(tok, i, len(c))] for i, c in enumerate(counters))


TOKENS = ["the"] * 50 + ["spark"] * 20 + ["catalyst"] * 7 + ["rare"]


@pytest.fixture(scope="module")
def built(spark):
    df = spark.createDataFrame([(t,) for t in TOKENS], "token string")
    return cms_build(df, d=D, w=W)


def test_counters_match_python_reference(built):
    assert built == _py_build(TOKENS, D, W)


def test_estimates_never_undercount_and_exact_when_isolated(spark, built):
    """With 4 distinct tokens in 4096 counters, collisions are absent —
    every estimate is exact; and >= truth holds by construction."""
    truth = {"the": 50, "spark": 20, "catalyst": 7, "rare": 1, "absent": 0}
    df = spark.createDataFrame([(t,) for t in truth], "token string")
    got = {
        r.token: r.est
        for r in df.select(
            "token", cms_estimate("token", built).alias("est")
        ).collect()
    }
    for t, n in truth.items():
        assert got[t] >= n
        assert got[t] == _py_estimate(built, t)
    assert got["the"] == 50 and got["absent"] == 0


def test_sketches_merge_by_addition(spark):
    """CMS of a union == elementwise sum of the parts' sketches — the
    property that makes per-day / per-partition sketches re-aggregable
    without touching raw data."""
    a, b = TOKENS[:40], TOKENS[40:]
    df_a = spark.createDataFrame([(t,) for t in a], "token string")
    df_b = spark.createDataFrame([(t,) for t in b], "token string")
    df_ab = spark.createDataFrame([(t,) for t in TOKENS], "token string")
    ca, cb = cms_build(df_a, d=2, w=64), cms_build(df_b, d=2, w=64)
    cab = cms_build(df_ab, d=2, w=64)
    summed = [[x + y for x, y in zip(ra, rb)] for ra, rb in zip(ca, cb)]
    assert summed == cab


def test_build_tolerates_null_tokens_and_estimate_null_is_null(spark):
    """NULL tokens drop from the build (review regression: NULL
    position used to crash counter filling); estimating a NULL token
    yields NULL, and a 5-row counter table is rejected like cms_build
    rejects d=5."""
    noisy = spark.createDataFrame(
        [("a",), (None,), ("a",)], "token string"
    )
    clean = spark.createDataFrame([("a",), ("a",)], "token string")
    assert cms_build(noisy, d=2, w=64) == cms_build(clean, d=2, w=64)
    built = cms_build(clean, d=2, w=64)
    df = spark.createDataFrame([(None,)], "token string")
    assert df.select(cms_estimate("token", built).alias("e")).collect()[0]["e"] is None
    with pytest.raises(ValueError, match="counter rows"):
        cms_estimate("token", [[0] * 8] * 5)


def test_estimate_plans_zero_exchange_zero_python(spark, built):
    df = spark.createDataFrame([("x",)], "token string")
    plan = (
        df.select(cms_estimate("token", built))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "dd dd", "1", "zz"]),
        min_size=0,
        max_size=30,
    )
)
def test_hypothesis_build_and_estimate_match_reference(spark, tokens):
    """Small-w sketches (forced collisions) still match the reference
    exactly — build and estimate are integer-deterministic even when
    tokens collide."""
    w = 8
    ref = _py_build(tokens, 2, w)
    if tokens:
        df = spark.createDataFrame([(t,) for t in tokens], "token string")
        built = cms_build(df, d=2, w=w)
        assert built == ref
        qdf = spark.createDataFrame(
            [(t,) for t in sorted(set(tokens))], "token string"
        )
        got = {
            r.token: r.est
            for r in qdf.select(
                "token", cms_estimate("token", built).alias("est")
            ).collect()
        }
        for t in set(tokens):
            assert got[t] == _py_estimate(ref, t)
            assert got[t] >= tokens.count(t)


def test_cells_aggregate_streams_complete_mode(spark, tmp_path):
    """The sketch's distributed body runs unchanged over a readStream:
    the (i, p) key space is bounded at d*w by construction, so the
    complete-mode aggregation state is constant-size — final streamed
    counters equal the batch build exactly."""
    import uuid

    from pyspark.sql import functions as F

    path = str(tmp_path / "tokens")
    df = spark.createDataFrame([(t,) for t in TOKENS], "token string")
    df.where(F.length("token") > 3).coalesce(1).write.mode("overwrite").parquet(path)
    df.where(F.length("token") <= 3).coalesce(1).write.mode("append").parquet(path)

    stream = cms_cells(
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path),
        d=2,
        w=64,
    )
    assert stream.isStreaming
    name = f"cms_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["i"], r["p"]): r["n"]
        for r in spark.sql(f"select * from {name}").collect()
    }
    want = {
        (r["i"], r["p"]): r["n"]
        for r in cms_cells(spark.read.parquet(path), d=2, w=64).collect()
    }
    assert got == want


# --- inner product / join-size estimation -------------------------------------


def _toks(spark, values):
    return spark.createDataFrame([(v,) for v in values], "token string")


def test_inner_product_exact_without_collisions(spark):
    from terra_bonobo_nodes_spark.llm.sketch import cms_cells, cms_inner_product

    a = _toks(spark, ["x"] * 3 + ["y"] * 2 + ["only_a"])
    b = _toks(spark, ["x"] * 4 + ["y"] * 5 + ["only_b"] * 7)
    # true inner product: 3*4 + 2*5 = 22; w large enough -> no collisions
    r = cms_inner_product(
        cms_cells(a, d=4, w=1 << 12), cms_cells(b, d=4, w=1 << 12)
    ).collect()[0]
    assert (r["est_join_size"], r["d_used"]) == (22, 4)


def test_inner_product_never_undercounts_under_collisions(spark):
    from terra_bonobo_nodes_spark.llm.sketch import cms_cells, cms_inner_product

    vals_a = [f"k{i}" for i in range(60) for _ in (0, 1)]  # 60 keys x2
    vals_b = [f"k{i}" for i in range(0, 120, 2)]           # 60 keys x1, half shared
    true = sum(2 * 1 for i in range(60) if i % 2 == 0)     # shared keys k0,k2..k58
    a, b = _toks(spark, vals_a), _toks(spark, vals_b)
    r = cms_inner_product(
        cms_cells(a, d=3, w=16), cms_cells(b, d=3, w=16)
    ).collect()[0]
    assert r["est_join_size"] >= true


def test_inner_product_empty_and_disjoint(spark):
    from terra_bonobo_nodes_spark.llm.sketch import cms_cells, cms_inner_product

    empty = _toks(spark, [])
    some = _toks(spark, ["a", "b"])
    r = cms_inner_product(
        cms_cells(empty, d=2, w=64), cms_cells(some, d=2, w=64)
    ).collect()[0]
    assert r["est_join_size"] == 0
    assert r["d_used"] == 2  # spine covers every row of the non-empty side


def test_inner_product_disjoint_with_partial_collisions(spark):
    """ADVICE r15 (sketch.py): disjoint inputs whose cells collide on
    SOME hash rows but share zero cells on at least one other row must
    report 0 — the zero-overlap row proves the join is empty, and the
    min runs over all d rows, not only rows the inner join kept."""
    from terra_bonobo_nodes_spark.llm.sketch import cms_cells, cms_inner_product

    a_vals = [f"a{i}" for i in range(40)]
    b_vals = [f"b{i}" for i in range(40)]
    # small w forces collisions on some rows; with d=4 independent
    # rows the chance every row collides is negligible for this fixture
    r = cms_inner_product(
        cms_cells(_toks(spark, a_vals), d=4, w=8),
        cms_cells(_toks(spark, b_vals), d=4, w=8),
    ).collect()[0]
    assert r["d_used"] == 4
    # the estimator is exactly min over ALL 4 rows (0-filled where the
    # frames share no cell); verify vs a direct per-row recompute
    ca = {(x["i"], x["p"]): x["n"] for x in cms_cells(_toks(spark, a_vals), d=4, w=8).collect()}
    cb = {(x["i"], x["p"]): x["n"] for x in cms_cells(_toks(spark, b_vals), d=4, w=8).collect()}
    dots = [
        sum(ca.get((i, p), 0) * cb.get((i, p), 0) for p in range(8))
        for i in range(4)
    ]
    assert r["est_join_size"] == min(dots)


def test_inner_product_sql_mirror(spark, duck):
    from terra_bonobo_nodes_spark.llm.sketch import (
        cms_cells,
        cms_inner_product,
        cms_inner_product_sql,
    )

    vals_a = [f"u{(i * 7) % 40}" for i in range(300)]
    vals_b = [f"u{(i * 11) % 50}" for i in range(200)]
    got = cms_inner_product(
        cms_cells(_toks(spark, vals_a), d=4, w=256),
        cms_cells(_toks(spark, vals_b), d=4, w=256),
    ).collect()[0]
    duck.execute(
        "CREATE OR REPLACE TABLE ip_a AS SELECT * FROM (VALUES "
        + ", ".join(f"('{v}')" for v in vals_a) + ") t(k)"
    )
    duck.execute(
        "CREATE OR REPLACE TABLE ip_b AS SELECT * FROM (VALUES "
        + ", ".join(f"('{v}')" for v in vals_b) + ") t(k)"
    )
    want = duck.execute(
        cms_inner_product_sql(
            "SELECT k FROM ip_a", "SELECT k FROM ip_b", "k", "k", 4, 256
        )
    ).fetchone()
    assert (got["est_join_size"], got["d_used"]) == want


def test_inner_product_layout_invariant_and_empty_build(spark):
    """The d*w cell joins and the min-of-dots give the same estimate
    under any shuffle partition count; an empty token frame builds an
    all-zero sketch."""
    from terra_bonobo_nodes_spark.llm.sketch import cms_inner_product
    from tests.conftest import rows_per_layout

    a = _toks(spark, [f"u{(i * 7) % 40}" for i in range(300)]).repartition(3)
    b = _toks(spark, [f"u{(i * 11) % 50}" for i in range(200)]).repartition(2)
    base, hostile = rows_per_layout(
        spark,
        lambda: cms_inner_product(cms_cells(a, d=4, w=64), cms_cells(b, d=4, w=64)),
    )
    assert len(base) == 1 and hostile == base
    assert cms_build(_toks(spark, []), d=2, w=64) == [[0] * 64, [0] * 64]
