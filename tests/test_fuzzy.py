"""Edit-distance similarity join (llm/fuzzy.py): tiered-block
completeness proven empirically against a brute-force O(n^2) reference
(hypothesis-swept — the property that matters), hand cases per tier,
the DuckDB mirror, and the block cap."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

import pytest

from terra_bonobo_nodes_spark.llm.fuzzy import (
    edit_distance_pairs,
    edit_distance_pairs_sql,
)
from tests.conftest import plans_cross_join


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _norm(s: str) -> str:
    import re

    return re.sub(" +", " ", re.sub("[^a-z0-9]+", " ", s.lower())).strip()


def _brute(strings, d):
    out = set()
    for i in range(len(strings)):
        for j in range(i + 1, len(strings)):
            dist = _lev(_norm(strings[i]), _norm(strings[j]))
            if dist <= d:
                out.add((i, j, dist))
    return out


def _run(spark, strings, **kw):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "doc_id long, text string"
    )
    return {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, **kw).collect()
    }


def test_typo_pairs_found_across_tiers(spark):
    strings = [
        "the quick brown fox",      # 0: long tier
        "the quick brown fx",       # 1: one deletion from 0
        "cat", "cot",               # 2,3: mid tier, one substitution
        "ab", "cd",                 # 4,5: tiny tier, distance 2, NO shared char
        "completely different words here",  # 6
    ]
    got = _run(spark, strings, max_dist=2)
    assert (0, 1, 1) in got
    assert (2, 3, 1) in got
    assert (4, 5, 2) in got  # the pair only the TINY block can find
    assert not any(6 in (a, b) for a, b, _ in got)
    assert got == _brute(strings, 2)


def test_normalization_is_the_join_key(spark):
    # case/punctuation differences vanish before the distance runs
    got = _run(spark, ["Hello, World!", "hello world", "hello word"], max_dist=1)
    assert (0, 1, 0) in got and (0, 2, 1) in got and (1, 2, 1) in got


def test_max_dist_respected(spark):
    strings = ["abcdef", "abcxyz"]  # distance 3
    assert _run(spark, strings, max_dist=2) == set()
    assert _run(spark, strings, max_dist=3) == {(0, 1, 3)}


def test_null_keys_dropped_empty_strings_pair(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "a")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, max_dist=1).collect()
    }
    # '' and '   ' both normalize to '' -> distance 0; 'a' is 1 away
    assert got == {(1, 2, 0), (1, 3, 1), (2, 3, 1)}


def test_block_cap_drops_hot_blocks(spark):
    # 'the ' prefix makes a hot gram; cap 2 kills blocks with > 2 members
    strings = [f"the record {i}" for i in range(6)]
    capped = _run(spark, strings, max_dist=1, block_cap=2)
    uncapped = _run(spark, strings, max_dist=1)
    assert capped <= uncapped  # recall tradeoff, never false positives


def test_matches_duckdb_mirror(spark):
    strings = ["alpha beta", "alpha bete", "gamma", "gamm", "xy", "zz", ""]
    got = sorted(_run(spark, strings, max_dist=2))
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(strings))
    sql = edit_distance_pairs_sql(
        f"SELECT * FROM (VALUES {values}) AS v(doc_id, text)", max_dist=2
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_empty_frame(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert edit_distance_pairs(df).collect() == []


def test_blocked_plan_has_no_cross_join(spark):
    df = spark.createDataFrame(
        [(i, f"{i // 3} rec{'' if i % 3 else ' x'}") for i in range(30)],
        "doc_id long, text string",
    )
    # pairs come only from q-gram/char/tiny block equi-joins
    assert not plans_cross_join(edit_distance_pairs(df, max_dist=2, block_cap=8))


_word = st.text(alphabet="ab", min_size=0, max_size=6)


@settings(max_examples=20, deadline=None)
@given(st.lists(_word, min_size=2, max_size=7), st.sampled_from([1, 2]))
def test_complete_vs_bruteforce(spark, strings, d):
    """The property the tiered blocking exists to guarantee: EVERY pair
    within distance d is found — over a 2-letter alphabet where
    collisions, empties and tiny strings are all dense."""
    assert _run(spark, strings, max_dist=d) == _brute(strings, d), (strings, d)


def test_capped_mirror_matches(spark):
    strings = [f"the record {i % 4}" for i in range(8)] + ["unrelated zz"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "doc_id long, text string"
    )
    got = sorted(
        tuple(r)
        for r in edit_distance_pairs(df, max_dist=1, block_cap=3).collect()
    )
    values = ", ".join(f"({i}, '{s}')" for i, s in enumerate(strings))
    sql = edit_distance_pairs_sql(
        f"SELECT * FROM (VALUES {values}) AS v(doc_id, text)",
        max_dist=1,
        block_cap=3,
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_match_against_reference_batch(spark):
    recs = spark.createDataFrame(
        [(0, "jon smith"), (1, "mary jones"), (2, "unrelated qq")],
        "doc_id long, text string",
    )
    master = spark.createDataFrame(
        [(100, "john smith"), (101, "marie jones"), (102, "zzz")],
        "ref_id long, text string",
    )
    from terra_bonobo_nodes_spark.llm.fuzzy import edit_distance_match

    got = {
        (r["doc_id"], r["ref_id"], r["dist"])
        for r in edit_distance_match(recs, master, max_dist=2).collect()
    }
    assert (0, 100, 1) in got
    assert (1, 101, 2) in got
    assert not any(d == 2 for d, _, _ in got if d == 2 and _ == 102)
    assert all(ref != 102 for _, ref, _ in got)


def test_match_streams_against_static_master(spark, tmp_path):
    """The linkage-serving shape: a readStream of records matched
    against a static master table (stream-static equi-join, append
    mode, no state). Streamed matches == batch matches after the
    documented downstream dedup."""
    import uuid

    from terra_bonobo_nodes_spark.llm.fuzzy import edit_distance_match

    recs = [(i, f"record {i % 5} name") for i in range(10)]
    master_rows = [(100 + j, f"record {j} name") for j in range(5)]
    master = spark.createDataFrame(master_rows, "ref_id long, text string")

    path = str(tmp_path / "recs")
    df = spark.createDataFrame(recs, "doc_id long, text string")
    df.where("doc_id < 5").coalesce(1).write.mode("overwrite").parquet(path)
    df.where("doc_id >= 5").coalesce(1).write.mode("append").parquet(path)

    stream = edit_distance_match(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path),
        master,
        max_dist=1,
    )
    assert stream.isStreaming
    name = f"fz_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["ref_id"], r["dist"])
        for r in spark.sql(f"select * from {name}").collect()
    }
    want = {
        (r["doc_id"], r["ref_id"], r["dist"])
        for r in edit_distance_match(
            spark.read.parquet(path), master, max_dist=1
        ).collect()
    }
    assert got == want and len(want) >= 10
