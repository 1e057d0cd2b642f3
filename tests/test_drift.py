"""PSI distribution drift (operators/quality.py::distribution_drift):
hand-computed exactness, identical-distribution zero, known-shift
magnitude, smoothing on empty buckets, SQL mirror."""

from __future__ import annotations

import math

from terra_bonobo_nodes_spark.operators.quality import (
    distribution_drift,
    distribution_drift_sql,
)


def _df(spark, buckets):
    return spark.createDataFrame([(b,) for b in buckets], "b long")


def test_identical_distributions_zero_psi(spark):
    old = _df(spark, [1] * 50 + [2] * 30 + [3] * 20)
    got = distribution_drift(old, old, "b").collect()
    assert all(r["psi_term"] == 0.0 for r in got)
    assert {r["bucket"]: r["share_old_ppm"] for r in got} == {
        1: 500000, 2: 300000, 3: 200000,
    }


def test_hand_computed_shift(spark):
    old = _df(spark, [1] * 80 + [2] * 20)
    new = _df(spark, [1] * 20 + [2] * 80)
    got = {r["bucket"]: r for r in distribution_drift(old, new, "b").collect()}
    p1, q1 = 81 / 102, 21 / 102
    assert got[1]["psi_term"] == round((p1 - q1) * math.log(p1 / q1), 6)
    total = sum(r["psi_term"] for r in got.values())
    assert total > 1.0  # a swapped 80/20 is a massive shift


def test_empty_bucket_smoothing_finite(spark):
    old = _df(spark, [1] * 10)
    new = _df(spark, [2] * 10)
    got = {r["bucket"]: r for r in distribution_drift(old, new, "b").collect()}
    assert got[1]["n_new"] == 0 and got[2]["n_old"] == 0
    for r in got.values():
        assert math.isfinite(r["psi_term"])
    # smoothed shares: bucket 1 p=(10+1)/12, q=(0+1)/12
    p, q = 11 / 12, 1 / 12
    assert got[1]["psi_term"] == round((p - q) * math.log(p / q), 6)


def test_sql_mirror(spark, duck):
    old_b = [i % 7 for i in range(200)]
    new_b = [(i * 3) % 5 for i in range(150)]
    got = sorted(
        tuple(r)
        for r in distribution_drift(
            _df(spark, old_b), _df(spark, new_b), "b"
        ).collect()
    )
    duck.execute(
        "CREATE OR REPLACE TABLE dd_old AS SELECT * FROM (VALUES "
        + ", ".join(f"({b})" for b in old_b) + ") t(b)"
    )
    duck.execute(
        "CREATE OR REPLACE TABLE dd_new AS SELECT * FROM (VALUES "
        + ", ".join(f"({b})" for b in new_b) + ") t(b)"
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            distribution_drift_sql(
                "SELECT * FROM dd_old", "SELECT * FROM dd_new", "b"
            )
        ).fetchall()
    )
    assert got == want


def test_new_side_bucket_counts_stream_complete_mode(spark, tmp_path):
    """The drift monitor's production shape: the NEW side's bucket
    counts are a bounded-key combinable aggregate (buckets by
    construction), so they run unchanged over a readStream in complete
    mode — the cms_cells/hll_registers property — and a foreachBatch
    (or the driver) joins the static old-side counts and computes PSI.
    Pinned batch == stream on the aggregate itself."""
    import uuid

    from pyspark.sql import functions as F

    path = str(tmp_path / f"drift-{uuid.uuid4().hex[:8]}")
    df = spark.createDataFrame(
        [(i % 7,) for i in range(500)], "b long"
    )
    df.limit(200).coalesce(1).write.mode("overwrite").parquet(path)
    df.subtract(df.limit(0)).coalesce(1).write.mode("append").parquet(path)

    counts = (
        spark.readStream.schema("b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    assert counts.isStreaming
    name = f"drift_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql(f"select * from {name}").collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_new"))
        .collect()
    )
    assert got == want


# --- robust (median/MAD) outliers (same module family) ------------------------


def test_robust_outliers_hand_case(spark):
    from terra_bonobo_nodes_spark.operators.quality import robust_outliers

    # group a: values 1..9 plus a 1000 spike; lower median of 10
    # values = position 5 = 5; absdevs {0..4, 995...} -> mad = 2
    rows = [("a", v) for v in range(1, 10)] + [("a", 1000)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["v"]: (r["med"], r["mad"], r["is_outlier"])
           for r in robust_outliers(df, "v", "g", k_num=3).collect()}
    assert got[1000] == (5, 2, True)
    assert got[5] == (5, 2, False)
    # |1-5|=4 <= 3*2 -> inlier; |v-med| > 6 only for the spike
    assert not any(f for v, (_, _, f) in got.items() if v != 1000)


def test_robust_outliers_constant_group_and_nulls(spark):
    import pytest as _pt

    from terra_bonobo_nodes_spark.operators.quality import robust_outliers

    df = spark.createDataFrame(
        [("c", 7), ("c", 7), ("c", 7), ("c", 8), ("c", None)],
        "g string, v long",
    )
    got = {(r["v"], r["is_outlier"]) for r in
           robust_outliers(df, "v", "g").collect()}
    # MAD 0: the deviating row flags at any k; NULL rows are dropped
    assert got == {(7, False), (8, True)}
    with _pt.raises(ValueError):
        robust_outliers(df, "v", "g", k_den=0)


def test_robust_outliers_sql_mirror(spark, duck):
    from terra_bonobo_nodes_spark.operators.quality import (
        robust_outliers,
        robust_outliers_sql,
    )

    rows = [(f"g{i % 3}", (i * 37) % 100 + (1000 if i % 17 == 0 else 0))
            for i in range(120)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = sorted(
        (r["g"], r["v"], r["med"], r["mad"], r["is_outlier"])
        for r in robust_outliers(df, "v", "g").collect()
    )
    duck.execute(
        "CREATE OR REPLACE TABLE ro_raw AS SELECT * FROM (VALUES "
        + ", ".join(f"('{g}', {v})" for g, v in rows) + ") t(g, v)"
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            robust_outliers_sql("SELECT * FROM ro_raw", "v", "g")
        ).fetchall()
    )
    assert got == want


def test_robust_outliers_layout_invariant_and_empty(spark):
    """Both rank-window median passes break ties by value, so the
    verdicts do not move with the shuffle partition count; no cross
    join; an empty frame gives an empty result."""
    from terra_bonobo_nodes_spark.operators.quality import robust_outliers
    from tests.conftest import plans_cross_join, rows_per_layout

    rows = [(f"g{i % 4}", (i * 29) % 60 + (900 if i % 23 == 0 else 0))
            for i in range(160)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(5)
    base, hostile = rows_per_layout(
        spark, lambda: robust_outliers(df, "v", "g", k_num=5)
    )
    assert len(base) == 160 and hostile == base
    assert not plans_cross_join(robust_outliers(df, "v", "g"))
    empty = spark.createDataFrame([], "g string, v long")
    assert robust_outliers(empty, "v", "g").collect() == []
