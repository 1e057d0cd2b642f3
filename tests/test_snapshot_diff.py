"""CDC operators (operators/cdc.py). snapshot_diff: verdict semantics
incl. NULL-safe comparison, multi-key, default compare-column
inference, summary rollup, guards. apply_changes / collapse_changes:
delete and out-of-order semantics, malformed-record guards, the
deterministic tie-break and a randomized Python fold."""

from __future__ import annotations

import pytest

from terra_bonobo_nodes_spark.operators.cdc import (
    snapshot_diff,
    snapshot_diff_summary,
)


def _pair(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "id long, name string, v long",
    )
    new = spark.createDataFrame(
        [(2, "b", 21), (3, "c", None), (4, "d", 40), (5, "e", 50)],
        "id long, name string, v long",
    )
    return old, new


def test_verdicts(spark):
    old, new = _pair(spark)
    got = {
        r["id"]: r["verdict"]
        for r in snapshot_diff(old, new, ["id"]).collect()
    }
    assert got == {
        1: "removed",
        2: "changed",       # 20 -> 21
        3: "unchanged",     # NULL <=> NULL
        4: "unchanged",
        5: "added",
    }


def test_null_vs_value_is_changed(spark):
    old = spark.createDataFrame([(1, None)], "id long, v string")
    new = spark.createDataFrame([(1, "x")], "id long, v string")
    r = snapshot_diff(old, new, ["id"]).collect()[0]
    assert r["verdict"] == "changed" and r["v_old"] is None and r["v_new"] == "x"


def test_multi_key_and_explicit_compare(spark):
    old = spark.createDataFrame(
        [("a", 1, 10, 99), ("a", 2, 20, 99)], "s string, i long, v long, z long"
    )
    new = spark.createDataFrame(
        [("a", 1, 10, 0), ("a", 2, 25, 99)], "s string, i long, v long, z long"
    )
    got = {
        (r["s"], r["i"]): r["verdict"]
        for r in snapshot_diff(old, new, ["s", "i"], compare_cols=["v"]).collect()
    }
    # z differs on (a,1) but is not compared
    assert got == {("a", 1): "unchanged", ("a", 2): "changed"}


def test_summary_rollup(spark):
    old, new = _pair(spark)
    got = {
        r["verdict"]: r["n_keys"]
        for r in snapshot_diff_summary(
            snapshot_diff(old, new, ["id"])
        ).collect()
    }
    assert got == {"removed": 1, "changed": 1, "unchanged": 2, "added": 1}


def test_guard_empty_keys(spark):
    old, new = _pair(spark)
    with pytest.raises(ValueError):
        snapshot_diff(old, new, [])


# --- apply_changes / collapse_changes --------------------------------------


def _cdc_frames(spark):
    base = spark.createDataFrame(
        [(1, "a0"), (2, "b0"), (3, "c0")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            # k=1: update then delete (delete has the higher seq -> gone)
            (1, 10, "U", "a1"),
            (1, 20, "D", None),
            # k=2: out-of-order arrivals, the highest seq wins
            (2, 31, "U", "b2"),
            (2, 30, "U", "b1"),
            # k=4: pure insert of a key the snapshot never had
            (4, 40, "I", "d0"),
        ],
        "k long, seq long, op string, v string",
    )
    return base, changes


def test_apply_changes_semantics(spark):
    from terra_bonobo_nodes_spark.operators.cdc import apply_changes

    base, changes = _cdc_frames(spark)
    out = {r.k: r.v for r in apply_changes(base, changes, ["k"], "seq").collect()}
    assert out == {2: "b2", 3: "c0", 4: "d0"}  # 1 deleted, 3 untouched


def test_apply_changes_rejects_partial_payload(spark):
    from terra_bonobo_nodes_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([(1, "a", 1.0)], "k long, v string, w double")
    changes = spark.createDataFrame([(1, 1, "U", "x")], "k long, seq long, op string, v string")
    with pytest.raises(ValueError, match="full row image"):
        apply_changes(base, changes, ["k"], "seq")


def test_apply_changes_null_op_fails_fast(spark):
    """A NULL op is a malformed CDC record, not a delete: the naive
    filter would silently drop the key from the snapshot."""
    from terra_bonobo_nodes_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([(1, "a0")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, 10, None, "a1")], "k long, seq long, op string, v string"
    )
    with pytest.raises(Exception, match="malformed CDC"):
        apply_changes(base, changes, ["k"], "seq").collect()


def test_collapse_changes_tie_break_deterministic(spark):
    from terra_bonobo_nodes_spark.operators.cdc import collapse_changes

    # same (key, seq): op DESC decides -> 'U' beats 'D'
    changes = spark.createDataFrame(
        [(1, 5, "D", None), (1, 5, "U", "kept")],
        "k long, seq long, op string, v string",
    )
    for n in (1, 7):
        got = collapse_changes(changes.repartition(n), ["k"], "seq").collect()
        assert len(got) == 1 and got[0].op == "U" and got[0].v == "kept"


def test_apply_changes_random_logs_match_python_fold(spark):
    """200 keys x random I/U/D change sequences, applied once through
    the operator, must equal a per-key Python fold of the log (highest
    seq wins; delete removes; unchanged keys pass through)."""
    import random

    from terra_bonobo_nodes_spark.operators.cdc import apply_changes

    rng = random.Random(42)
    base_rows = [(k, f"base{k}") for k in range(200) if rng.random() < 0.7]
    change_rows = []
    seq = 0
    for k in range(200):
        for _ in range(rng.randrange(0, 4)):
            seq += 1
            op = rng.choice(["I", "U", "D"])
            change_rows.append((k, seq, op, f"v{seq}" if op != "D" else None))
    rng.shuffle(change_rows)  # arrival order must not matter

    expect = {k: v for k, v in base_rows}
    for k, s, op, v in sorted(change_rows, key=lambda r: r[1]):
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = v

    base = spark.createDataFrame(base_rows, "k long, v string")
    changes = spark.createDataFrame(
        change_rows, "k long, seq long, op string, v string"
    )
    got = {
        r.k: r.v for r in apply_changes(base, changes, ["k"], "seq").collect()
    }
    assert got == expect
