"""Product quantization (llm/pq.py): hand-pinned geometry, codebook
faithfulness vs an independent pure-Python replay of the fixed-point
math, ADC exactness, NULL/empty contracts, plan shape, and partition
determinism."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import pq
from terra_bonobo_nodes_spark.llm.kmeans import DEFAULT_SHIFT

SCALE = float(2**DEFAULT_SHIFT)


def _q(v: float) -> int:
    return int(math.floor(v * SCALE))


# --- hand-pinned: 4-dim, m=2 subspaces, k=2, obvious clusters ---------


@pytest.fixture(scope="module")
def tiny(spark):
    # subspace 0 separates on dims 1-2 (ids 0,1 low / 2,3 high);
    # subspace 1 separates on dims 3-4 (ids 0,2 low / 1,3 high)
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.1, 0.0, 1.0, 1.0]),
        (2, [1.0, 1.0, 0.1, 0.0]),
        (3, [1.0, 0.9, 1.0, 0.9]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def tiny_books(tiny):
    return pq.pq_train(tiny, dim=4, m=2, k=2, iterations=3)


def test_train_geometry_and_bounds(tiny_books):
    assert len(tiny_books) == 2
    for book in tiny_books:
        assert 1 <= len(book) <= 2
        for cent in book.values():
            assert len(cent) == 2


def test_encode_separates_the_planted_clusters(spark, tiny, tiny_books):
    got = {
        r["vec_id"]: list(r["codes"])
        for r in tiny.select(
            "vec_id", pq.pq_encode_expr("embedding", tiny_books).alias("codes")
        ).collect()
    }
    # subspace 0: {0,1} together, {2,3} together; subspace 1: {0,2} / {1,3}
    assert got[0][0] == got[1][0] and got[2][0] == got[3][0]
    assert got[0][0] != got[2][0]
    assert got[0][1] == got[2][1] and got[1][1] == got[3][1]
    assert got[0][1] != got[1][1]


def test_adc_table_matches_independent_math(tiny_books):
    query = [0.0, 0.0, 1.0, 1.0]
    table = pq.adc_table(query, tiny_books)
    assert len(table) == 2
    for j, book in enumerate(tiny_books):
        qs = [_q(v) for v in query[j * 2 : (j + 1) * 2]]
        for cl, cent in book.items():
            want = sum((a - b) * (a - b) for a, b in zip(qs, cent))
            assert table[j][cl] == want


def test_adc_topk_orders_by_true_table_distance(spark, tiny, tiny_books):
    query = [0.0, 0.0, 1.0, 1.0]  # nearest to id 1's shape
    out = pq.pq_adc_topk(tiny, query, tiny_books, k_top=4).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4]
    assert out[0]["vec_id"] == 1
    # replay every row's ADC distance independently
    table = pq.adc_table(query, tiny_books)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in tiny.select(
            "vec_id", pq.pq_encode_expr("embedding", tiny_books).alias("codes")
        ).collect()
    }
    for r in out:
        want = sum(table[j][codes[r["vec_id"]][j]] for j in range(2))
        assert r["adc_dist"] == want
    # deterministic ordering: (dist, id)
    dists = [(r["adc_dist"], r["vec_id"]) for r in out]
    assert dists == sorted(dists)


def test_reconstruction_error_is_sum_of_winning_dists(spark, tiny, tiny_books):
    rows = tiny.select(
        "vec_id",
        pq.pq_encode_expr("embedding", tiny_books).alias("codes"),
        pq.pq_reconstruction_error_expr("embedding", tiny_books).alias("err"),
    ).collect()
    raw = {r["vec_id"]: [float(x) for x in v] for r, v in
           ((r, r2) for r, r2 in zip(rows, [x["embedding"] for x in tiny.collect()]))}
    for r in rows:
        vec = raw[r["vec_id"]]
        want = 0
        for j, book in enumerate(tiny_books):
            qs = [_q(v) for v in vec[j * 2 : (j + 1) * 2]]
            want += min(
                sum((a - b) * (a - b) for a, b in zip(qs, cent))
                for cent in book.values()
            )
        assert r["err"] == want, r


def test_null_vector_encodes_null(spark, tiny_books):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, None)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r
        for r in df.select(
            "vec_id",
            pq.pq_encode_expr("embedding", tiny_books).alias("codes"),
            pq.pq_reconstruction_error_expr("embedding", tiny_books).alias("err"),
        ).collect()
    }
    assert rows[1]["codes"] is None and rows[1]["err"] is None
    assert rows[0]["codes"] is not None


def test_geometry_guards():
    with pytest.raises(ValueError, match="divisible"):
        pq.pq_train(None, dim=10, m=3)
    with pytest.raises(ValueError, match="codebook"):
        pq.pq_encode_expr("v", [])
    with pytest.raises(ValueError, match="query dim"):
        pq.adc_table([0.0], [{0: [0, 0]}])


def test_codes_match_duckdb_ctes_mirror(spark, tiny, tiny_books):
    """pq_codes_ctes replays pq_train + encode in DuckDB: the same codes
    and reconstruction error per vector."""
    import duckdb

    got = sorted(
        tuple(r)
        for r in tiny.select(
            "vec_id",
            *[
                F.element_at(pq.pq_encode_expr("embedding", tiny_books), j + 1)
                for j in range(2)
            ],
            pq.pq_reconstruction_error_expr("embedding", tiny_books),
        ).collect()
    )
    values = ", ".join(
        f"({r['vec_id']}, CAST({list(r['embedding'])} AS DOUBLE[]))"
        for r in tiny.collect()
    )
    ctes = pq.pq_codes_ctes(
        f"SELECT * FROM (VALUES {values}) AS v(vec_id, embedding)",
        dim=4, m=2, k=2, iterations=3,
    )
    want = sorted(
        duckdb.sql(f"WITH {ctes} SELECT * FROM pq_codes").fetchall()
    )
    assert got == want


def test_train_rejects_empty_corpus(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty input"):
        pq.pq_train(df, dim=4, m=2, k=2, iterations=2)


def test_encode_plans_zero_exchange_zero_python(spark, tiny, tiny_books):
    plan = (
        tiny.select(
            "vec_id", pq.pq_encode_expr("embedding", tiny_books).alias("codes")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_codes_invariant_under_repartition(spark, tiny, tiny_books):
    base = {
        r["vec_id"]: list(r["codes"])
        for r in tiny.select(
            "vec_id", pq.pq_encode_expr("embedding", tiny_books).alias("codes")
        ).collect()
    }
    shuffled = {
        r["vec_id"]: list(r["codes"])
        for r in tiny.repartition(7)
        .select(
            "vec_id", pq.pq_encode_expr("embedding", tiny_books).alias("codes")
        )
        .collect()
    }
    assert base == shuffled


def test_training_invariant_under_repartition(spark, tiny):
    a = pq.pq_train(tiny, dim=4, m=2, k=2, iterations=3)
    b = pq.pq_train(tiny.repartition(5), dim=4, m=2, k=2, iterations=3)
    assert a == b


# --- IVF-PQ (IVFADC) --------------------------------------------------------


@pytest.fixture(scope="module")
def two_cells(spark):
    # two well-separated cells in 4-d; 8 points each, small intra-cell
    # spread so coarse k=2 training lands one centroid per blob
    rows = []
    for i in range(8):
        rows.append((i, [0.0 + i * 0.01, 0.0, 0.0 + i * 0.01, 0.0]))
    for i in range(8):
        rows.append((100 + i, [5.0, 5.0 + i * 0.01, 5.0, 5.0 + i * 0.01]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def ivfpq(two_cells):
    return pq.ivf_pq_train(
        two_cells, dim=4, k_coarse=2, m=2, k_sub=4, iterations=3
    )


def test_ivf_pq_train_shapes(ivfpq):
    coarse, books = ivfpq
    assert 1 <= len(coarse) <= 2
    assert len(books) == 2
    for cent in coarse.values():
        assert len(cent) == 4


def test_ivf_pq_topk_finds_the_right_blob(spark, two_cells, ivfpq):
    coarse, books = ivfpq
    out = pq.ivf_pq_topk(
        two_cells, [0.0, 0.0, 0.0, 0.0], coarse, books, n_probe=1, k_top=5
    ).collect()
    assert len(out) == 5
    assert all(r["vec_id"] < 100 for r in out)  # only the near blob
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    # nearest point by construction is id 0
    assert out[0]["vec_id"] == 0


def test_ivf_pq_probe_gates_the_scan(spark, two_cells, ivfpq):
    coarse, books = ivfpq
    if len(coarse) < 2:
        pytest.skip("coarse training merged the blobs")
    one = pq.ivf_pq_topk(
        two_cells, [5.0, 5.0, 5.0, 5.0], coarse, books, n_probe=1, k_top=100
    ).collect()
    both = pq.ivf_pq_topk(
        two_cells, [5.0, 5.0, 5.0, 5.0], coarse, books, n_probe=2, k_top=100
    ).collect()
    assert len(one) == 8      # only the probed cell's vectors scored
    assert len(both) == 16    # both cells probed
    assert all(r["vec_id"] >= 100 for r in one)


def test_ivf_pq_adc_matches_python_replay(spark, two_cells, ivfpq):
    coarse, books = ivfpq
    query = [0.2, 0.1, 0.2, 0.1]
    out = pq.ivf_pq_topk(
        two_cells, query, coarse, books, n_probe=2, k_top=16
    ).collect()
    q = [_q(v) for v in query]
    raw = {r["vec_id"]: r["embedding"] for r in two_cells.collect()}
    sub = pq._sub_dim(books)
    for r in out:
        cl = r["cell"]
        qres = [float(a - b) for a, b in zip(q, coarse[cl])]
        table = pq.adc_table(qres, books, shift=0)
        # replay the vector's own residual codes
        x = [_q(v) for v in raw[r["vec_id"]]]
        res = [a - b for a, b in zip(x, coarse[cl])]
        want = 0
        for j, book in enumerate(books):
            rs = res[j * sub : (j + 1) * sub]
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(rs, cent)), code)
                for code, cent in book.items()
            )
            want += table[j][best[1]]
        assert r["adc_dist"] == want, r


def test_ivf_pq_guards(spark, two_cells):
    with pytest.raises(ValueError, match="coarse codebook"):
        pq.ivf_pq_topk(two_cells, [0.0] * 4, {}, [{0: [0, 0]}])
    with pytest.raises(ValueError, match="n_probe"):
        pq.ivf_pq_topk(
            two_cells, [0.0] * 4, {0: [0, 0, 0, 0]}, [{0: [0, 0]}], n_probe=0
        )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty input"):
        pq.ivf_pq_train(empty, dim=4, k_coarse=2, m=2, k_sub=2)


# --- hypothesis: Spark encode/ADC == independent pure-Python replay ---------


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _py_codes(vec, books):
    sub = pq._sub_dim(books)
    out = []
    for j, book in enumerate(books):
        qs = [_q(v) for v in vec[j * sub : (j + 1) * sub]]
        best = min(
            (sum((a - b) * (a - b) for a, b in zip(qs, cent)), cl)
            for cl, cent in book.items()
        )
        out.append(best[1])
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False,
                      width=32),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=10,
    )
)
def test_hypothesis_encode_matches_python_argmin(spark, vecs):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    books = pq.pq_train(df, dim=4, m=2, k=2, iterations=2)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in df.select(
            "vec_id", pq.pq_encode_expr("embedding", books).alias("codes")
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == _py_codes([float(x) for x in v], books), (i, v)
