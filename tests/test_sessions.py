"""Batch sessionization (operators/sessions.py): the strict gap
boundary, per-session stats, and a randomized Python reference."""

from __future__ import annotations

from datetime import datetime, timedelta


def test_sessionize_gap_boundary_is_strict(spark):
    from terra_bonobo_nodes_spark.operators.sessions import sessionize

    t0 = datetime(2024, 1, 1)
    rows = [
        ("u", t0, 1),
        ("u", t0 + timedelta(seconds=1800), 2),   # gap == 1800 -> SAME session
        ("u", t0 + timedelta(seconds=3601), 3),   # gap 1801 -> new session
        ("v", t0, 4),                              # other key independent
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, eid long")
    out = {
        r.eid: r.session_seq
        for r in sessionize(df, ["g"], "ts", 1800, order_cols=["eid"]).collect()
    }
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_session_stats_values(spark):
    from terra_bonobo_nodes_spark.operators.sessions import session_stats

    t0 = datetime(2024, 1, 1)
    rows = [
        ("u", t0, 1, 1.5),
        ("u", t0 + timedelta(seconds=600), 2, 2.5),
        ("u", t0 + timedelta(seconds=9000), 3, 4.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, eid long, v double")
    out = sorted(
        session_stats(df, ["g"], "ts", 1800, value_col="v", order_cols=["eid"]).collect(),
        key=lambda r: r.session_seq,
    )
    assert [r.n_events for r in out] == [2, 1]
    assert out[0].duration_s == 600 and out[1].duration_s == 0
    assert out[0].sum_value == 4.0 and out[1].sum_value == 4.0
    assert out[0].session_end - out[0].session_start == 600


def test_sessionize_random_series_match_python_reference(spark):
    """50 keys x random gaps: session assignment must equal the naive
    Python walk (new session when gap > threshold, floored seconds)."""
    import random
    from datetime import datetime, timedelta

    from terra_bonobo_nodes_spark.operators.sessions import sessionize

    rng = random.Random(7)
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for k in range(50):
        t = t0
        for _ in range(rng.randrange(1, 12)):
            t = t + timedelta(seconds=rng.randrange(0, 4000))
            eid += 1
            rows.append((f"k{k}", t, eid))

    expect = {}
    by_key = {}
    for key, t, e in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        prev, seq = by_key.get(key, (None, 0))
        sec = int(t.timestamp())
        if prev is None or sec - prev > 1800:
            seq += 1
        by_key[key] = (sec, seq)
        expect[e] = seq

    df = spark.createDataFrame(rows, "g string, ts timestamp, eid long")
    got = {
        r.eid: r.session_seq
        for r in sessionize(
            df.repartition(5), ["g"], "ts", 1800, order_cols=["eid"]
        ).collect()
    }
    assert got == expect
