"""Driver-mimic correctness checker: run registered Spark queries and
their DuckDB oracles side-by-side at a small SF and compare row count,
schema (column names), and an order-insensitive value hash — the same
comparison contract the round driver applies (sort columns by name,
round-trip values through str, hash the sorted multiset of rows).

Usage: python tests/check_driver.py [query ...]   (default: all)
       SF_DIR=/root/testdata/sf0.01 python tests/check_driver.py g7b_transform_lambert93
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.12g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\x1e".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    from terra_bonobo_nodes_spark.plans.registry import all_queries

    wanted = sys.argv[1:]
    qs = all_queries()
    unknown = [n for n in wanted if n not in qs]
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        return 2
    if wanted:
        qs = {k: v for k, v in qs.items() if k in wanted}

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-driver")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = 0
    for name, q in qs.items():
        try:
            sdf = q.spark_fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
            if q.oracle is None:
                print(f"{name}: rows={len(srows)} (no oracle)")
                continue
            ores = con.execute(q.oracle).fetchall()
            ocols = sorted(d[0] for d in con.description)
            sh = _hash(sdf.columns, srows)
            oh = _hash([d[0] for d in con.description], ores)
            ok_rows = len(srows) == len(ores)
            ok_schema = scols == ocols
            ok_hash = sh == oh
            status = "OK" if (ok_rows and ok_schema and ok_hash) else "FAIL"
            if status == "FAIL":
                failures += 1
            print(
                f"{name}: {status} rows {len(srows)}/{len(ores)} "
                f"schema={'ok' if ok_schema else f'{scols} vs {ocols}'} "
                f"hash={'ok' if ok_hash else 'MISMATCH'}"
            )
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"{name}: ERROR {type(e).__name__}: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
