"""Differential test of the md5-derived key forms in llm/hashing.py:
every Spark form (Column or Spark SQL text) must give the same value as
its DuckDB mirror, and both the value a plain-Python md5 gives, over
NULL, empty, non-ASCII, negative and 19-digit inputs and two seeds.
The oracle rows check the mirrors only through the queries that use
them; this checks each form on its own."""

from __future__ import annotations

import hashlib
from itertools import zip_longest

import duckdb
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import hashing as H

_IDS = [None, 0, -1, 42, 1234567890123456789, -9223372036854775808,
        9223372036854775807]
_TEXTS = [None, "", "plain ascii", "héllo wörld", "日本語のテキスト",
          "emoji 🙂 tail", "it's quoted"]
_SEEDS = ["tbns-test-v1", "s2"]


def _md5(s):
    return None if s is None else hashlib.md5(s.encode()).hexdigest()


def _window(hexd, start=1, width=8):
    return None if hexd is None else int(hexd[start - 1:start - 1 + width], 16)


def _key(v, seed):
    return None if v is None else seed + str(v)


def _forms():
    """(name, Spark Column, DuckDB SQL, Python fn of (id, text))."""
    out = [
        ("hash32", H.hash32(F.col("txt")), H.hash32_sql("txt"),
         lambda i, t: _window(_md5(t))),
        ("unit32", H.unit32(H.hash32(F.col("txt"))),
         H.unit32_sql(H.hash32_sql("txt")),
         lambda i, t: None if t is None else _window(_md5(t)) / 2**32),
    ]
    for start, width in [(1, 15), (9, 13), (25, 8)]:
        out.append((
            f"window_{start}_{width}",
            H.hex_window(F.md5(F.col("txt")), start, width),
            H.hex_window_sql("md5(txt)", start, width),
            lambda i, t, s=start, w=width: _window(_md5(t), s, w),
        ))
    for col, idx in [("id", 0), ("txt", 1)]:
        for n in (7, 32):
            def shard(i, t, x=idx, m=n):
                h = _window(_md5(_key((i, t)[x], "")))
                return None if h is None else h % m

            out.append((
                f"shard_{col}_{n}", H.shard_key(col, n), H.shard_key_sql(col, n),
                shard,
            ))
        for seed in _SEEDS:
            out.append((
                f"row_hash_{col}_{seed}",
                H.row_hash(col, seed),
                H.row_hash_sql(col, seed),
                lambda i, t, s=seed, x=idx: _window(_md5(_key((i, t)[x], s))),
            ))
    for seed in _SEEDS:
        out.append((
            f"row_unit_{seed}",
            H.unit32(H.row_hash("id", seed)),
            H.unit32_sql(H.row_hash_sql("id", seed)),
            lambda i, t, s=seed: (
                None if i is None else _window(_md5(_key(i, s))) / 2**32
            ),
        ))
        out.append((
            f"seeded_hash_{seed}",
            H.seeded_hash(F.col("txt"), seed, 15),
            H.seeded_hash_sql("txt", seed, 15),
            lambda i, t, s=seed: _window(_md5(_key(t, s + "-")), 1, 15),
        ))
        for slot in range(H.DIGEST_SLICES):
            for mod in (7, 1 << 16):
                def py(i, t, s=seed, j=slot, m=mod):
                    h = _window(_md5(_key(t, s + "-")), 1 + 8 * j)
                    return None if h is None else h % m

                digest = H.seeded_digest_sparksql("txt", seed)
                name = f"slice_{seed}_{slot}_{mod}"
                sql = H.digest_slice_sql("txt", seed, slot, mod)
                out.append((
                    name,
                    H.digest_slice(H.seeded_digest(F.col("txt"), seed), slot, mod),
                    sql,
                    py,
                ))
                out.append((
                    name + "_text",
                    F.expr(H.digest_slice_sparksql(digest, slot, mod)),
                    sql,
                    py,
                ))
    return out


def test_spark_forms_match_duckdb_mirrors_and_python(spark):
    rows = [
        (k, i, t) for k, (i, t) in enumerate(zip_longest(_IDS, _TEXTS))
    ]
    forms = _forms()
    df = spark.createDataFrame(rows, "k int, id bigint, txt string")
    got = df.select(
        "k", *[c.alias(f"c{n}") for n, (_, c, _, _) in enumerate(forms)]
    ).orderBy("k").collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, id BIGINT, txt VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    sqls = ", ".join(f"{sql} AS c{n}" for n, (_, _, sql, _) in enumerate(forms))
    want = con.execute(f"SELECT k, {sqls} FROM t ORDER BY k").fetchall()
    con.close()

    assert len(got) == len(want) == len(rows)
    for (k, i, t), g, w in zip(rows, got, want):
        for n, (name, _, _, py) in enumerate(forms):
            ref = py(i, t)
            assert g[n + 1] == w[n + 1] == ref, (name, i, t, g[n + 1], w[n + 1], ref)
