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


def test_iso_oracle_keeps_the_null_user_stratum(spark, tmp_path):
    """A NULL user_id is a real group for Spark's groupBy+applyInPandas;
    t6_isotonic_value_fit's oracle must keep it too (null-safe
    user_id joins), with the same values as the Spark fit."""
    import duckdb
    import pandas as pd

    from terra_bonobo_nodes_spark.plans.queries_relational import (
        _ISO_ORACLE,
        t6_isotonic_value_fit,
    )
    from tests.check_driver import _hash

    # events fixture: one real user with a PAVA violation, one NULL-user
    # stratum with its own violation (so the NULL group carries real
    # values, not just row presence).
    rows = pd.DataFrame(
        {
            "user_id": pd.array(
                [7, 7, 7, None, None, None], dtype="Int64"
            ),
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:00:10",
                    "2024-01-01 00:00:20",
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:00:10",
                    "2024-01-01 00:00:20",
                ]
            ),
            "value": [3.0, 1.0, 2.0, 10.0, 4.0, 40.0],
        }
    )
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    spark.createDataFrame(rows).write.parquet(str(sf_dir / "events.parquet"))

    sdf = t6_isotonic_value_fit(spark, str(sf_dir))
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert any(r[0] is None for r in srows), "fixture lost its NULL group"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(_ISO_ORACLE)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _hash(scols, srows) == _hash(ocols, orows)


def test_oracle_join_keys_have_no_nulls_in_fixtures():
    """Several registered oracles join on plain equality over keys
    that Spark's groupBy would keep as NULL groups (documents.source/
    lang, events.user_id/event_type — e.g. the asof rows and the funnel
    source joins). Every one is LATENT-ONLY because the testdata tables
    contain no NULLs in those keys. This test pins that assumption: if
    a testdata regeneration ever ships NULL keys, the latent class goes
    LIVE and this fails loudly, naming the columns, instead of
    surfacing as an unexplained hash mismatch later."""
    import duckdb

    bad = []
    for table, cols in (
        ("documents", ["source", "lang"]),
        ("events", ["user_id", "event_type"]),
    ):
        for c in cols:
            n = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{SF_DIR}/{table}.parquet')"
                f" WHERE {c} IS NULL"
            ).fetchone()[0]
            if n:
                bad.append((table, c, n))
    assert not bad, (
        f"NULLs appeared in oracle join keys {bad} — convert the "
        "plain-equality oracle joins on these columns to IS NOT "
        "DISTINCT FROM (see t6_isotonic_value_fit's oracle) before "
        "trusting CORRECTNESS rows that touch them"
    )
