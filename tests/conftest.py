"""Shared fixtures: one SparkSession per test session + a DuckDB oracle
comparator that applies the driver's correctness check (row count,
column names, order-insensitive value hash; tests/check_driver.py)."""

from __future__ import annotations

import os
import random
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Driver-budget profile (pytest.ini): the measured-slowest tests carry
# the `slow` marker, applied here from one data file instead of 25
# scattered decorators. pytest.ini's addopts deselects them by default;
# `pytest -m "slow or not slow"` runs the full suite.
_SLOW_LIST = Path(__file__).with_name("slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        slow_ids = {
            ln.strip()
            for ln in _SLOW_LIST.read_text().splitlines()
            if ln.strip() and not ln.startswith("#")
        }
    except OSError:
        return
    matched = set()
    for item in items:
        # durations log records `tests/file.py::test[param]`; nodeids
        # during a `tests/` run match exactly. Parametrized entries in
        # the list name the exact id; a bare id also marks every param.
        nid = item.nodeid
        base = nid.split("[", 1)[0]
        if nid in slow_ids or base in slow_ids:
            item.add_marker(pytest.mark.slow)
            matched.add(nid if nid in slow_ids else base)
    stale = slow_ids - matched
    # a partial run (one file) legitimately matches few entries — only
    # flag rot when the whole suite was collected
    if stale and len(items) > 1000:
        import warnings

        warnings.warn(
            f"tests/slow_tests.txt has {len(stale)} entries matching no "
            f"collected test (first: {sorted(stale)[:3]}) — prune the list",
            stacklevel=1,
        )


def _random_shapes(seed: int, n: int, kind: str):
    """Deterministic mixed rect/L-shape WKB geometries in [0,100)²;
    L-shapes force the curvy kernel path, rects stay boxy. Shared by
    the spatial-operator tests and the Spark-free area properties."""
    from terra_bonobo_nodes_spark.geo.wkb import write_wkb

    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        x0 = rnd.uniform(0, 90)
        y0 = rnd.uniform(0, 90)
        w = rnd.uniform(0.5, 15.0)
        h = rnd.uniform(0.5, 15.0)
        if kind == "mixed" and i % 3 == 0:
            # L-shape: the full rect minus its top-right quadrant
            ring = [
                (x0, y0), (x0 + w, y0), (x0 + w, y0 + h / 2),
                (x0 + w / 2, y0 + h / 2), (x0 + w / 2, y0 + h),
                (x0, y0 + h), (x0, y0),
            ]
        else:
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
        rows.append(write_wkb(("Polygon", [ring])))
    return rows


@pytest.fixture(scope="session")
def spark():
    from terra_bonobo_nodes_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def rows_per_layout(spark, build, partitions=(7,)) -> list[list[tuple]]:
    """Collect ``build()`` under the session's shuffle partition count
    and under each hostile count in ``partitions``: one sorted row list
    per layout, so a layout-invariant operator returns equal lists."""
    default = spark.conf.get("spark.sql.shuffle.partitions")
    out = []
    try:
        for n in (default, *partitions):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            out.append(sorted((tuple(r) for r in build().collect()), key=repr))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    return out


def plans_cross_join(df) -> bool:
    """True when the physical plan holds a cartesian or nested-loop join
    (the accidental-cartesian signature test_plan_audit.py checks)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def assert_matches_oracle(spark_df, duck_con, sql: str):
    """The driver's compare (tests/check_driver.py): same row count,
    same sorted column names, same order-insensitive value hash of
    ``collect()`` against ``fetchall()`` (floats at 12 significant
    digits)."""
    from tests.check_driver import _hash, _norm

    scols = spark_df.columns
    srows = [tuple(r) for r in spark_df.collect()]
    orows = duck_con.execute(sql).fetchall()
    ocols = [d[0] for d in duck_con.description]
    assert sorted(scols) == sorted(ocols), f"columns differ: {sorted(scols)} vs {sorted(ocols)}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    if _hash(scols, srows) != _hash(ocols, orows):

        def normed(cols, rows):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(_norm(r[i]) for i in order) for r in rows)

        diffs = [
            (a, b) for a, b in zip(normed(scols, srows), normed(ocols, orows)) if a != b
        ]
        raise AssertionError(f"value hash mismatch; first differing rows: {diffs[:3]}")
