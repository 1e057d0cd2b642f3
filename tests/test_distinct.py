"""Distinct-count sketches (llm/distinct.py): KMV bottom-k + HLL
registers vs an independent pure-Python reference, merge theorems,
NULL semantics, cross-engine SQL mirrors, streaming combinability."""

from __future__ import annotations

import hashlib
import math
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import distinct as D

_VALUES = [f"user-{i * 7919 % 503}" for i in range(900)]  # 503 distinct
_SMALL = [f"u{i}" for i in range(9)]


def _py_hash(value: str) -> int:
    return int(
        hashlib.md5(f"tbns-distinct-v1-{value}".encode()).hexdigest()[:15], 16
    )


def _py_kmv(values, k):
    hashes = sorted({_py_hash(v) for v in values if v is not None})[:k]
    size = len(hashes)
    if size < k:
        return size, size
    return size, ((k - 1) << 60) // hashes[-1]


def _py_hll(values, p):
    m = 1 << p
    regs = {}
    for v in values:
        if v is None:
            continue
        dg = hashlib.md5(f"tbns-distinct-v1-{v}".encode()).hexdigest()
        reg = int(dg[:8], 16) % m
        suffix = int(dg[8 : 8 + 13], 16)
        rho = 53 if suffix == 0 else 53 - suffix.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    zero = m - len(regs)
    s = sum(1 << (53 - r) for r in regs.values()) + zero * (1 << 53)
    a_num, a_den = 7213 * 1000 * m, 10000 * (1000 * m + 1079)
    raw = (a_num * m * m * (1 << 53)) // (a_den * s)
    if zero > 0 and raw <= (5 * m) // 2:
        return zero, round(m * math.log(m / zero))
    return zero, raw


def _df(spark, values, group="g"):
    return spark.createDataFrame(
        [(group, v) for v in values], "group string, value string"
    )


def test_kmv_matches_python_reference(spark):
    size, est = _py_kmv(_VALUES, 64)
    row = D.kmv_estimate(
        D.kmv_sketch(_df(spark, _VALUES), "value", "group", k=64), 64
    ).collect()[0]
    assert (row["kmv_size"], row["kmv_est"]) == (size, est) == (64, est)
    # sanity: the estimator lands near the true 503
    assert abs(est - 503) < 503 * 0.5


def test_kmv_exact_below_k(spark):
    row = D.kmv_estimate(
        D.kmv_sketch(_df(spark, _SMALL), "value", "group", k=64), 64
    ).collect()[0]
    assert (row["kmv_size"], row["kmv_est"]) == (9, 9)


def test_kmv_merge_equals_sketch_of_union(spark):
    a_vals, b_vals = _VALUES[:500], _VALUES[300:]
    a = D.kmv_sketch(_df(spark, a_vals), "value", "group", k=32)
    b = D.kmv_sketch(_df(spark, b_vals), "value", "group", k=32)
    merged = sorted(
        (r["rank"], r["h"]) for r in D.kmv_merge(a, b, 32).collect()
    )
    whole = sorted(
        (r["rank"], r["h"])
        for r in D.kmv_sketch(
            _df(spark, a_vals + b_vals), "value", "group", k=32
        ).collect()
    )
    assert merged == whole


def test_kmv_null_values_dropped(spark):
    df = spark.createDataFrame(
        [("g", "a"), ("g", None), ("g", "b")], "group string, value string"
    )
    row = D.kmv_estimate(D.kmv_sketch(df, "value", "group", k=8), 8).collect()[0]
    assert (row["kmv_size"], row["kmv_est"]) == (2, 2)


def test_kmv_k_guard():
    with pytest.raises(ValueError):
        D.kmv_estimate(None, k=1)


def test_hll_matches_python_reference(spark):
    zero, est = _py_hll(_VALUES, 5)
    row = D.hll_estimate(
        D.hll_registers(_df(spark, _VALUES), "value", "group", p=5), 5
    ).collect()[0]
    assert (row["hll_zero_regs"], row["hll_est"]) == (zero, est)
    assert abs(est - 503) < 503 * 0.5


def test_hll_linear_counting_small_range(spark):
    zero, est = _py_hll(_SMALL, 5)
    row = D.hll_estimate(
        D.hll_registers(_df(spark, _SMALL), "value", "group", p=5), 5
    ).collect()[0]
    assert (row["hll_zero_regs"], row["hll_est"]) == (zero, est)
    assert zero > 0  # 9 values can fill at most 9 of 32 registers


def test_hll_registers_combinable(spark):
    """Register maps merge by max — union of split builds == whole
    build (the property that makes the build map-side combinable and
    day-over-day re-aggregable)."""
    a = D.hll_registers(_df(spark, _VALUES[:500]), "value", "group", p=4)
    b = D.hll_registers(_df(spark, _VALUES[300:]), "value", "group", p=4)
    merged = sorted(
        tuple(r)
        for r in a.unionByName(b)
        .groupBy("group", "register")
        .agg(F.max("rho").alias("rho"))
        .collect()
    )
    whole = sorted(
        tuple(r)
        for r in D.hll_registers(_df(spark, _VALUES), "value", "group", p=4).collect()
    )
    assert merged == whole


def test_hll_p_guard():
    with pytest.raises(ValueError):
        D.hll_estimate(None, p=1)
    with pytest.raises(ValueError):
        D.hll_registers(None, p=13)


def test_sql_mirrors_match_spark(spark):
    """Both report SQL generators replay the Spark chain bit-for-bit
    on a shared table (the driver compare contract, locally)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE vals AS SELECT 'g' AS grp, "
        "concat('user-', CAST((i * 7919) % 503 AS VARCHAR)) AS v "
        "FROM range(900) t(i)"
    )
    krow = con.execute(
        D.kmv_report_sql("SELECT * FROM vals", "v", "grp", 64)
    ).fetchone()
    hrow = con.execute(
        D.hll_report_sql("SELECT * FROM vals", "v", "grp", 5)
    ).fetchone()
    srow_k = D.kmv_estimate(
        D.kmv_sketch(_df(spark, _VALUES), "value", "group", k=64), 64
    ).collect()[0]
    srow_h = D.hll_estimate(
        D.hll_registers(_df(spark, _VALUES), "value", "group", p=5), 5
    ).collect()[0]
    assert (krow[1], krow[2]) == (srow_k["kmv_size"], srow_k["kmv_est"])
    assert (hrow[1], hrow[2]) == (srow_h["hll_zero_regs"], srow_h["hll_est"])


def test_hll_build_streams_complete_mode(spark, tmp_path):
    """hll_registers runs unchanged over a readStream: the (group,
    register) key space is bounded at groups * 2^p, so complete-mode
    state is constant-size — streamed registers equal the batch build
    exactly (the cms_cells property)."""
    path = str(tmp_path / "vals")
    df = _df(spark, _VALUES)
    df.limit(400).coalesce(1).write.mode("overwrite").parquet(path)
    df.subtract(df.limit(400)).coalesce(1).write.mode("append").parquet(path)

    stream = D.hll_registers(
        spark.readStream.schema("group string, value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path),
        "value",
        "group",
        p=4,
    )
    assert stream.isStreaming
    name = f"hll_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(f"select * from {name}").collect())
    want = sorted(
        tuple(r)
        for r in D.hll_registers(
            spark.read.parquet(path), "value", "group", p=4
        ).collect()
    )
    assert got == want


# --- KMV set operations --------------------------------------------------


def _py_set_ops(sets: dict, k: int):
    """Independent reference of kmv_set_ops over raw value sets."""
    sk = {
        g: sorted({_py_hash(v) for v in vs if v is not None})[:k]
        for g, vs in sets.items()
    }
    out = {}
    for ga in sorted(sk):
        for gb in sorted(sk):
            if ga >= gb:
                continue
            merged = sorted(set(sk[ga]) | set(sk[gb]))[:k]
            size = len(merged)
            a, b = set(sk[ga]), set(sk[gb])
            shared = sum(1 for h in merged if h in a and h in b)
            est = size if size < k else ((k - 1) << 60) // merged[-1]
            out[(ga, gb)] = (
                size, est, shared, size, (shared * est) // size
            )
    return out


def _two_group_df(spark, sets):
    rows = [(g, v) for g, vs in sets.items() for v in vs]
    return spark.createDataFrame(rows, "group string, value string")


def test_set_ops_exact_below_k(spark):
    sets = {"a": [f"u{i}" for i in range(10)],
            "b": [f"u{i}" for i in range(6, 16)]}
    df = _two_group_df(spark, sets)
    out = D.kmv_set_ops(D.kmv_sketch(df, k=64), k=64).collect()
    assert len(out) == 1
    r = out[0]
    # below k everything is exact: union 16, intersection 4
    assert (r["union_size"], r["union_est"]) == (16, 16)
    assert (r["jaccard_num"], r["jaccard_den"]) == (4, 16)
    assert r["inter_est"] == 4


def test_set_ops_estimator_tracks_truth(spark):
    n, ov = 3000, 1000  # |a|=3000, |b|=3000, overlap 1000 -> union 5000
    sets = {"a": [f"u{i}" for i in range(n)],
            "b": [f"u{i}" for i in range(n - ov, 2 * n - ov)]}
    df = _two_group_df(spark, sets)
    r = D.kmv_set_ops(D.kmv_sketch(df, k=256), k=256).collect()[0]
    assert abs(r["union_est"] - 5000) / 5000 < 0.2
    assert abs(r["inter_est"] - ov) / ov < 0.35
    assert tuple(r)[2:] == _py_set_ops(sets, 256)[("a", "b")]


def test_set_ops_matches_python_reference_multigroup(spark):
    sets = {
        "a": [f"x{i}" for i in range(40)],
        "b": [f"x{i}" for i in range(20, 80)],
        "c": [f"y{i}" for i in range(30)],
    }
    df = _two_group_df(spark, sets)
    got = {
        (r["group_a"], r["group_b"]): (
            r["union_size"], r["union_est"], r["jaccard_num"],
            r["jaccard_den"], r["inter_est"],
        )
        for r in D.kmv_set_ops(D.kmv_sketch(df, k=32), k=32).collect()
    }
    assert got == _py_set_ops(sets, 32)
    # disjoint pair shares nothing
    assert got[("a", "c")][2] == 0 and got[("a", "c")][4] == 0


def test_set_ops_sql_mirror(spark, duck):
    sets = {"a": [f"m{i}" for i in range(50)],
            "b": [f"m{i}" for i in range(25, 75)]}
    df = _two_group_df(spark, sets)
    got = sorted(
        tuple(r)
        for r in D.kmv_set_ops(D.kmv_sketch(df, k=16), k=16).collect()
    )
    duck.execute(
        "CREATE OR REPLACE TABLE so_raw AS SELECT * FROM (VALUES "
        + ", ".join(f"('{g}', '{v}')" for g, vs in sets.items() for v in vs)
        + ") t(grp, val)"
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            D.kmv_set_ops_sql("SELECT * FROM so_raw", "val", "grp", 16)
        ).fetchall()
    )
    assert got == want


def test_set_ops_guards_and_degenerate(spark):
    with pytest.raises(ValueError):
        D.kmv_set_ops(_two_group_df(spark, {"a": ["x"]}), k=1)
    one = D.kmv_sketch(_two_group_df(spark, {"a": ["x", "y"]}), k=8)
    assert D.kmv_set_ops(one, k=8).count() == 0  # no pairs from one group


def test_set_ops_layout_invariant_and_empty(spark):
    """The bottom-k union re-rank gives the same estimates under any
    shuffle partition count; an empty frame has no pairs."""
    from tests.conftest import rows_per_layout

    sets = {g: [f"v{(i * m) % 400}" for i in range(150)]
            for g, m in (("a", 3), ("b", 7), ("c", 11))}
    df = _two_group_df(spark, sets).repartition(4)
    base, hostile = rows_per_layout(
        spark, lambda: D.kmv_set_ops(D.kmv_sketch(df, k=32), k=32)
    )
    assert len(base) == 3 and hostile == base
    empty = D.kmv_sketch(_two_group_df(spark, {}), k=8)
    assert D.kmv_set_ops(empty, k=8).collect() == []
