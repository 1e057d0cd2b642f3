"""Z-order layout operators (operators/layout.py): Morton key vs a
Python reference (hypothesis-swept), locality property, deterministic
file modeling, zone-map pruning semantics, and the measured
zorder-beats-natural win on clustered probes."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.operators import layout

_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _py_spread(v: int) -> int:
    for sh, mask in _SPREAD:
        v = (v | (v << sh)) & mask
    return v


def _py_morton(x: int, y: int) -> int:
    return _py_spread(x) | (_py_spread(y) << 1)


def test_morton_matches_python_reference(spark):
    pts = [(0, 0), (1, 0), (0, 1), (1, 1), (5, 9), (123456, 654321),
           (layout.MAX_COORD, layout.MAX_COORD)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = [
        r["z"]
        for r in df.select(
            layout.morton_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    assert got == [_py_morton(x, y) for x, y in pts]
    # the canonical 2x2 quadrant order: (0,0) (1,0) (0,1) (1,1)
    assert got[:4] == [0, 1, 2, 3]


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=layout.MAX_COORD),
    st.integers(min_value=0, max_value=layout.MAX_COORD),
)
def test_morton_sql_mirror_matches_python(x, y):
    got = duckdb.connect().execute(
        f"SELECT {layout.morton_key_sql(str(x), str(y))}"
    ).fetchone()[0]
    assert got == _py_morton(x, y)


def test_morton_is_bit_exact_interleave():
    """Decoding the key by de-interleaving recovers both coordinates —
    the key is information-preserving, not a hash."""
    for x, y in [(7, 0), (0, 7), (1234567, 7654321)]:
        z = _py_morton(x, y)
        rx = sum(((z >> (2 * i)) & 1) << i for i in range(31))
        ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(31))
        assert (rx, ry) == (x, y)


def test_morton_null_propagates(spark):
    df = spark.createDataFrame([(None, 5)], "x long, y long")
    assert (
        df.select(layout.morton_key(F.col("x"), F.col("y")).alias("z"))
        .collect()[0]["z"]
        is None
    )


def test_morton_key_out_of_range_raises(spark):
    """A coordinate outside [0, MAX_COORD] would alias to another
    cell's key; the key fails per row instead, naming itself."""
    for x, y in [(-1, 0), (3, 1 << 31)]:
        df = spark.createDataFrame([(x, y)], "x long, y long")
        with pytest.raises(Exception, match="morton_key"):
            df.select(layout.morton_key(F.col("x"), F.col("y"))).collect()


def test_file_assignments_deterministic_and_balanced(spark):
    df = spark.range(100).select(F.col("id"))
    a = layout.file_assignments(df, ["id"], 4)
    counts = {r["file_id"]: r["n"] for r in a.groupBy("file_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 25, 2: 25, 3: 25, 4: 25}
    again = layout.file_assignments(df, ["id"], 4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, again.collect()))
    with pytest.raises(ValueError):
        layout.file_assignments(df, ["id"], 0)


def test_probe_scan_counts_hand_case(spark):
    zones = spark.createDataFrame(
        [(1, 0, 9, 0, 9), (2, 10, 19, 0, 9), (3, 0, 9, 10, 19)],
        "file_id long, min_x long, max_x long, min_y long, max_y long",
    )
    rows = {
        r["probe_id"]: r["files_scanned"]
        for r in layout.probe_scan_counts(
            zones,
            [
                (1, 0, 5, 0, 5),  # only file 1
                (2, 0, 25, 0, 5),  # files 1 and 2 (y <= 9)
                (3, 9, 10, 9, 10),  # touches all three (bounds inclusive)
                (4, 50, 60, 50, 60),  # none
            ],
        ).collect()
    }
    assert rows == {1: 1, 2: 2, 3: 3, 4: 0}
    with pytest.raises(ValueError):
        layout.probe_scan_counts(zones, [])


def test_zorder_prunes_better_than_row_order(spark):
    """The measured claim: on a uniform 2-D grid written in y-major
    row order, an x-stripe probe scans EVERY file, while the Z-order
    layout of the same rows scans a strict subset."""
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    probes = [(1, 3, 6, 0, 63)]  # narrow x-stripe, full y extent
    nat = layout.probe_scan_counts(
        layout.zone_maps(
            layout.file_assignments(grid, ["y", "x"], 16), "x", "y"
        ),
        probes,
    ).collect()[0]["files_scanned"]
    zo = layout.probe_scan_counts(
        layout.zone_maps(
            layout.file_assignments(
                grid,
                [layout.morton_key(F.col("x"), F.col("y")), "x"],
                16,
            ),
            "x",
            "y",
        ),
        probes,
    ).collect()[0]["files_scanned"]
    assert nat == 16  # y-major layout: every file spans all x
    assert zo < nat / 2  # z-order: the stripe lives in few files
