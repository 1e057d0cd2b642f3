"""Stride-scheduling mixture interleave (llm/corpus.py::
stride_interleave): exact integer key arithmetic pinned against an
independent Python reference, the DuckDB mirror, the stride
proportionality invariant on prefixes, and drop/guard semantics."""

from __future__ import annotations

import hashlib

import pytest

from terra_bonobo_nodes_spark.llm.corpus import (
    packing_efficiency,
    stride_interleave,
    stride_interleave_sql,
)
from tests.conftest import plans_cross_join, rows_per_layout

_SEED = "tbns-stride-v1"
_ONE = 1 << 20


def _py_hash(doc_id) -> int:
    return int(hashlib.md5(f"{_SEED}{doc_id}".encode()).hexdigest()[:8], 16)


def _py_ref(rows, weights):
    """rows: (doc_id, source). Returns {doc_id: (src_rank, key)}."""
    out = {}
    by_src: dict = {}
    for did, src in rows:
        if src in weights:
            by_src.setdefault(src, []).append(did)
    for src, ids in by_src.items():
        ids.sort(key=lambda d: (_py_hash(d), d))
        w = weights[src]
        for j, did in enumerate(ids):
            out[did] = (j, (2 * j + 1) * _ONE // (2 * w))
    return out


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_matches_python_reference(spark):
    rows = [(i, "web" if i % 3 else "code") for i in range(60)]
    weights = {"web": 3, "code": 1}
    got = {
        r["doc_id"]: (r["src_rank"], r["interleave_key"])
        for r in stride_interleave(_df(spark, rows), weights).collect()
    }
    assert got == _py_ref(rows, weights)


def test_prefix_proportionality(spark):
    # 300 web (w=3) + 100 code (w=1): every prefix of the key order
    # holds the 3:1 ratio to within one stride per source
    rows = [(i, "web") for i in range(300)] + [
        (1000 + i, "code") for i in range(100)
    ]
    out = stride_interleave(_df(spark, rows), {"web": 3, "code": 1})
    ordered = [
        r["source"]
        for r in out.orderBy("interleave_key", "source", "src_rank").collect()
    ]
    for n in (4, 40, 200, 400):
        web = sum(1 for s in ordered[:n] if s == "web")
        assert abs(web - 0.75 * n) <= 2, (n, web)


def test_unlisted_sources_dropped_and_guards(spark):
    rows = [(1, "web"), (2, "spam"), (3, "web")]
    out = stride_interleave(_df(spark, rows), {"web": 2}).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]
    with pytest.raises(ValueError):
        stride_interleave(_df(spark, rows), {})
    with pytest.raises(ValueError):
        stride_interleave(_df(spark, rows), {"web": 0})
    with pytest.raises(ValueError):
        stride_interleave(_df(spark, rows), {"web": 1 << 60})


def test_sql_mirror(spark, duck):
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(45)]
    weights = {"a": 5, "b": 2, "c": 1}
    got = sorted(
        (r["doc_id"], r["source"], r["src_rank"], r["interleave_key"])
        for r in stride_interleave(_df(spark, rows), weights).collect()
    )
    duck.execute(
        "CREATE OR REPLACE TABLE si_raw AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{s}')" for d, s in rows)
        + ") t(doc_id, source)"
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            stride_interleave_sql("SELECT * FROM si_raw", weights)
        ).fetchall()
    )
    assert got == want


def test_invariant_under_shuffle_layout_and_empty_input(spark):
    """The per-source hash-rank window gives the same keys under any
    shuffle partition count, plans no cross join, and an empty frame
    gives an empty result."""
    rows = [(i, ["en", "fr", "de", "zh"][i % 4]) for i in range(80)]
    df = _df(spark, rows).repartition(3)
    weights = {"en": 4, "fr": 2, "de": 1}
    base, hostile = rows_per_layout(
        spark, lambda: stride_interleave(df, weights)
    )
    assert len(base) == 60 and hostile == base
    assert not plans_cross_join(stride_interleave(df, weights))
    assert stride_interleave(_df(spark, []), weights).collect() == []


def test_weight_one_everywhere_is_hash_round_robin(spark):
    # equal weights -> strict round-robin across sources in key order
    rows = [(i, "x" if i % 2 else "y") for i in range(40)]
    out = stride_interleave(_df(spark, rows), {"x": 1, "y": 1})
    ordered = [
        r["source"]
        for r in out.orderBy("interleave_key", "source", "src_rank").collect()
    ]
    # same j -> same key; pairs alternate blocks of {x,y} at each j
    for i in range(0, 40, 2):
        assert set(ordered[i : i + 2]) == {"x", "y"}


# --- packing efficiency (same module, llm/corpus.py) -------------------------


def test_packing_efficiency_hand_case(spark):
    # one shard so packed math is checkable by hand
    rows = [(1, "a", 100), (2, "a", 100), (3, "a", 56), (4, "b", 300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r["source"]: tuple(r)[1:]
        for r in packing_efficiency(df, budget=128, n_shards=1).collect()
    }
    # a: 256 tokens; naive = ceil(100/128)*2 + ceil(56/128) = 3 seqs
    #    packed = ceil(256/128) = 2 seqs -> zero waste
    assert got["a"] == (3, 256, 3, 2, ((3 * 128 - 256) * 10**6) // (3 * 128), 0)
    # b: one 300-token doc: naive = packed = 3 seqs (384 cap)
    assert got["b"][2] == got["b"][3] == 3


def test_packing_efficiency_null_tokens_and_guard(spark):
    import pytest as _pt

    df = spark.createDataFrame(
        [(1, "a", None)], "doc_id long, source string, n_tokens long"
    )
    r = packing_efficiency(df, budget=64, n_shards=1).collect()[0]
    assert (r["total_tokens"], r["naive_seqs"], r["packed_seqs"]) == (0, 0, 0)
    assert r["naive_waste_ppm"] == 0  # zero-seq group reports 0, not NULL
    with _pt.raises(ValueError):
        packing_efficiency(df, budget=0)


def test_packing_efficiency_sql_mirror(spark, duck):
    from terra_bonobo_nodes_spark.llm.corpus import packing_efficiency_sql

    rows = [(i, ["web", "code"][i % 2], (i * 37) % 500) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = sorted(
        tuple(r) for r in packing_efficiency(df, budget=256, n_shards=8).collect()
    )
    duck.execute(
        "CREATE OR REPLACE TABLE pe_raw AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{s}', {n})" for d, s, n in rows)
        + ") t(doc_id, source, n_tokens)"
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            packing_efficiency_sql("SELECT * FROM pe_raw", 256, 8)
        ).fetchall()
    )
    assert got == want


def test_packing_efficiency_layout_invariant_and_empty(spark):
    """The two-level (shard, then source) rollup is combinable: the same
    ledger under any shuffle partition count, no cross join, and an
    empty frame reports no sources."""
    schema = "doc_id long, source string, n_tokens long"
    rows = [(i, ["web", "code", "wiki"][i % 3], (i * 53) % 700) for i in range(150)]
    df = spark.createDataFrame(rows, schema).repartition(4)
    base, hostile = rows_per_layout(
        spark, lambda: packing_efficiency(df, budget=256, n_shards=8)
    )
    assert len(base) == 3 and hostile == base
    assert not plans_cross_join(packing_efficiency(df, budget=256))
    empty = spark.createDataFrame([], schema)
    assert packing_efficiency(empty, budget=256).collect() == []
