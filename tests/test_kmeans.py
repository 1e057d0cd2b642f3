"""Fixed-point distributed Lloyd's k-means (llm/kmeans.py): exact
integer iterations pinned against an independent Python reference
(hypothesis-swept), the DuckDB unrolled-CTE mirror, and hand cases for
cluster recovery, tie-breaks, and empty-cluster death."""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from terra_bonobo_nodes_spark.llm.kmeans import kmeans_fixed, kmeans_fixed_sql
from tests.conftest import plans_cross_join


def _run(spark, vecs, **kw):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out = kmeans_fixed(df, **kw).collect()
    return {r["vec_id"]: (r["cluster"], r["dist"]) for r in out}


def _ref(vecs, k=2, iterations=3, shift=16):
    """Independent reference: same integer arithmetic, plain loops.
    float32 rounding first (Spark reads array<float>), then the exact
    2**shift exponent-shift quantization."""
    import numpy as np

    qs = [
        [math.floor(float(np.float32(v)) * (2**shift)) for v in vec] for vec in vecs
    ]
    cents = {c: qs[c][:] for c in range(min(k, len(qs)))}
    assign = {}
    for it in range(iterations):
        assign = {}
        for i, x in enumerate(qs):
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(x, c)), cl)
                for cl, c in sorted(cents.items())
            )
            assign[i] = (best[1], best[0])
        if it == iterations - 1:
            break
        new = {}
        for cl in cents:
            members = [qs[i] for i, (c, _) in assign.items() if c == cl]
            if not members:
                continue  # empty cluster dies
            n = len(members)
            new[cl] = [
                _truncdiv(sum(m[d] for m in members), n)
                for d in range(len(qs[0]))
            ]
        cents = new
    return {i: (cl, d) for i, (cl, d) in assign.items()}


def _truncdiv(a, b):
    q = abs(a) // b
    return q if a >= 0 else -q


def test_two_obvious_clusters_recovered(spark):
    # first-k init seeds ids 0 and 1 — one per blob by construction
    # (seeding both inside one blob can legitimately converge split)
    vecs = [
        [0.0, 0.1], [1.0, 1.1],                     # seeds: blob A, blob B
        [0.1, 0.0], [0.05, 0.05],                   # rest of blob A
        [1.1, 1.0], [1.05, 1.05],                   # rest of blob B
    ]
    got = _run(spark, vecs, k=2, iterations=3)
    a = {got[i][0] for i in (0, 2, 3)}
    b = {got[i][0] for i in (1, 4, 5)}
    assert len(a) == 1 and len(b) == 1 and a != b
    assert got == _ref(vecs, k=2, iterations=3)


def test_deterministic_tie_breaks_to_lower_cluster(spark):
    # point 2 exactly equidistant from both centroids on the grid
    vecs = [[0.0], [1.0], [0.5]]
    got = _run(spark, vecs, k=2, iterations=1)
    assert got[2][0] == got[0][0]  # tie -> lower cluster id
    assert got == _ref(vecs, k=2, iterations=1)


def test_duplicate_init_kills_redundant_cluster(spark):
    # ids 0 and 1 identical -> centroid 1 never wins a point (ties go
    # to cluster 0) and dies at the first update
    vecs = [[0.25], [0.25], [0.26], [0.9]]
    got = _run(spark, vecs, k=2, iterations=3)
    assert {cl for cl, _ in got.values()} == {0}
    assert got == _ref(vecs, k=2, iterations=3)


def test_negative_coordinates_exact(spark):
    vecs = [[-0.9, -1.0], [-1.0, -0.9], [0.8, 0.7], [0.7, 0.8], [-0.95, -0.95]]
    got = _run(spark, vecs, k=2, iterations=3)
    assert got == _ref(vecs, k=2, iterations=3)
    neg = {got[i][0] for i in (0, 1, 4)}
    pos = {got[i][0] for i in (2, 3)}
    assert len(neg) == 1 and len(pos) == 1 and neg != pos


def test_matches_duckdb_mirror(spark):
    vecs = [
        [0.0, 0.1, -0.3], [0.1, 0.0, -0.2], [1.0, 1.1, 0.9],
        [1.1, 1.0, 1.0], [-0.5, -0.6, -0.7], [0.5, 0.5, 0.5],
    ]
    got = sorted(
        (i, cl, d) for i, (cl, d) in _run(spark, vecs, k=3, iterations=3).items()
    )
    values = ", ".join(
        "(" + str(i) + ", [" + ", ".join(f"CAST({x} AS FLOAT)" for x in v) + "])"
        for i, v in enumerate(vecs)
    )
    sql = kmeans_fixed_sql(
        f"SELECT * FROM (VALUES {values}) AS v(vec_id, embedding)",
        k=3,
        iterations=3,
        dim=3,
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_null_vectors_dropped(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, None), (2, [0.9, 0.8])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"] for r in kmeans_fixed(df, k=2).collect()}
    assert out == {0, 2}


def test_empty_input_and_no_cross_join(spark):
    schema = "vec_id long, embedding array<float>"
    assert kmeans_fixed(spark.createDataFrame([], schema), k=2).collect() == []
    df = spark.createDataFrame(
        [(i, [i / 4.0, 1.0 - i / 4.0]) for i in range(6)], schema
    )
    # the k-row centroid side joins on the assignment key, never as a
    # nested loop over the corpus
    assert not plans_cross_join(kmeans_fixed(df, k=2))


_coord = st.integers(min_value=-8, max_value=8).map(lambda n: n / 8.0)
_vecs = st.lists(
    st.tuples(_coord, _coord).map(list), min_size=1, max_size=8
)


@settings(max_examples=10, deadline=None)
@given(_vecs, st.sampled_from([1, 2, 3]), st.sampled_from([2, 3]))
def test_matches_python_reference(spark, vecs, iterations, k):
    got = _run(spark, vecs, k=k, iterations=iterations)
    assert got == _ref(vecs, k=k, iterations=iterations), (vecs, k, iterations)


def test_centroids_plus_literal_assign_reproduce_kmeans(spark):
    from terra_bonobo_nodes_spark.llm.kmeans import (
        assign_fixed_expr,
        kmeans_fixed_centroids,
    )
    from pyspark.sql import functions as F

    vecs = [
        [0.0, 0.1], [1.0, 1.1], [0.1, 0.0], [0.05, 0.05],
        [1.1, 1.0], [1.05, 1.05], [-0.4, -0.5],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    cb = {
        r["cluster"]: r["c"]
        for r in kmeans_fixed_centroids(df, k=2, iterations=3).collect()
    }
    scored = df.select(
        "vec_id", assign_fixed_expr("embedding", cb).alias("a")
    ).select("vec_id", "a.cluster", "a.dist")
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in scored.collect()}
    assert got == _run(spark, vecs, k=2, iterations=3)


def test_literal_assign_streams_stateless(spark, tmp_path):
    """Train distributed, serve as a plan literal: the assignment
    projection runs unchanged over a readStream in append mode (no
    state at all) and matches the batch scoring row for row."""
    import uuid

    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.llm.kmeans import (
        assign_fixed_expr,
        kmeans_fixed_centroids,
    )

    vecs = [[i / 7.0, (i * 3 % 5) / 5.0] for i in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    cb = {
        r["cluster"]: r["c"]
        for r in kmeans_fixed_centroids(df, k=3, iterations=2).collect()
    }
    path = str(tmp_path / "vecs")
    df.where("vec_id < 10").coalesce(1).write.mode("overwrite").parquet(path)
    df.where("vec_id >= 10").coalesce(1).write.mode("append").parquet(path)

    expr = assign_fixed_expr("embedding", cb).alias("a")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select("vec_id", expr)
        .select("vec_id", "a.cluster", "a.dist")
    )
    assert stream.isStreaming
    name = f"km_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in spark.sql(f"select * from {name}").collect()
    }
    want = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in spark.read.parquet(path)
        .select("vec_id", expr)
        .select("vec_id", "a.cluster", "a.dist")
        .collect()
    }
    assert got == want and len(got) == 20
