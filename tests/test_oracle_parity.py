"""The local correctness gate: every registered query with an oracle must
hash-match DuckDB on the same parquet — exactly what the driver does at
sf0.01, run here at sf0.001 for speed."""

from __future__ import annotations

import pytest

from terra_bonobo_nodes_spark.plans.registry import all_queries
from tests.conftest import SF_DIR, assert_matches_oracle

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    q = QUERIES[name]
    df = q.spark_fn(spark, SF_DIR)
    assert df.columns, f"{name}: empty schema"
    if q.oracle is None:
        # rows-only check, mirroring the driver's weaker path
        assert df.count() >= 0
        return
    assert_matches_oracle(df, duck, q.oracle)


def test_check_driver_rejects_unknown_names():
    """A misspelt or deleted name fails tests/check_driver.py, listing
    the unknown names, instead of filtering to nothing and exiting 0.
    The rejection comes before any Spark session: a launch under an
    unusable master would fail first and never print the names."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    script = Path(__file__).with_name("check_driver.py")
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master bogus://x pyspark-shell")
    r = subprocess.run(
        [sys.executable, str(script), "no_such_query", "j1_boolean_intersetc"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode != 0
    assert "no_such_query j1_boolean_intersetc" in r.stderr, r.stderr[-2000:]
