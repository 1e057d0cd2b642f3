"""Deterministic cross-engine hashing primitives: every md5-derived key
of the dedup, sampling and sketch operators, and the shingling.

Every primitive here exists in TWO forms that produce bit-identical
results: a Spark builder (a Column, or Spark-SQL text such as
``band_hash_sparksql`` where one parsed expression saves py4j calls)
and a DuckDB SQL-fragment generator, both driven by the same
module-level constants. That is what lets the driver's oracle re-run
MinHash/SimHash/LSH *exactly* in SQL.

The base hash is the first 8 hex chars of md5 → unsigned 32-bit int.
md5 is available and identical in Spark (JVM) and DuckDB; the engines'
native ``hash()``/``xxhash64`` functions differ, so we don't use them
in anything oracle-checked. MinHash permutations are the classic
``(a*h + b) mod p`` family with ``a < 2^17`` so ``a*h + b < 2^49``
never overflows a signed 64-bit int on either engine.

At 100 TB these expressions run entirely inside whole-stage codegen —
no Python, no UDFs; md5-per-shingle is the dominant cost and scales
linearly with scanned bytes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Prime > 2^32 for the MinHash permutation modulus.
MINHASH_P = 4294967311
# Bound on the multiplier keeps a*h+b within signed 64-bit.
_A_BOUND = 100003
_SEED = "tbns-minhash-v1"


def perm_params(n_hashes: int) -> list[tuple[int, int]]:
    """The (a, b) pairs for the n_hashes MinHash permutations.

    Derived from md5 of a fixed seed so Spark-side literals and
    oracle-SQL literals are always the same values.
    """
    out = []
    for i in range(n_hashes):
        h = hashlib.md5(f"{_SEED}-{i}".encode()).hexdigest()
        a = (int(h[:8], 16) % _A_BOUND) | 1  # odd, < 2^17
        b = int(h[8:16], 16)  # < 2^32
        out.append((a, b))
    return out


# --- md5 hex windows ---------------------------------------------------------
# Every md5-derived key in the package is a window of an md5 hex digest
# read as an unsigned int (<= 15 hex chars fits signed 64-bit).


def hex_window(digest: Column, start: int, width: int) -> Column:
    """Unsigned int of the ``width`` hex chars of ``digest`` from 1-based
    ``start`` (NULL in -> NULL out)."""
    return F.conv(F.substring(digest, start, width), 16, 10).cast("bigint")


def hex_window_sql(digest: str, start: int, width: int) -> str:
    """DuckDB fragment matching :func:`hex_window`."""
    return f"('0x' || substr({digest}, {start}, {width}))::BIGINT"


def hash32(c: Column) -> Column:
    """Unsigned 32-bit int from the first 8 md5 hex chars (Column)."""
    return hex_window(F.md5(c), 1, 8)


def hash32_sql(expr: str) -> str:
    """DuckDB fragment matching :func:`hash32`."""
    return hex_window_sql(f"md5({expr})", 1, 8)


def unit32(h: Column) -> Column:
    """A :func:`hash32` value mapped onto [0, 1)."""
    return h / F.lit(4294967296.0)


def unit32_sql(h: str) -> str:
    """DuckDB fragment matching :func:`unit32`."""
    return f"{h} / 4294967296.0"


def row_hash(id_col: str, seed: str) -> Column:
    """The samplers' seeded row key: hash32(seed || CAST(id AS STRING))."""
    return hash32(F.concat(F.lit(seed), F.col(id_col).cast("string")))


def row_hash_sql(id_expr: str, seed: str) -> str:
    """DuckDB fragment matching :func:`row_hash`."""
    return hash32_sql(f"'{seed}' || CAST({id_expr} AS VARCHAR)")


def shard_key(id_col: str, n_shards: int) -> Column:
    """The packing shard of a row: hash32(CAST(id AS STRING)) mod n."""
    return F.pmod(hash32(F.col(id_col).cast("string")), F.lit(n_shards))


def shard_key_sql(id_expr: str, n_shards: int) -> str:
    """DuckDB fragment matching :func:`shard_key`."""
    return f"{hash32_sql(f'CAST({id_expr} AS VARCHAR)')} % {n_shards}"


def shingle_hash_fast(c: Column) -> Column:
    """Production-speed shingle hash: ONE JVM xxhash64 (no md5 + hex +
    conv round-trip) reduced into [0, MINHASH_P) so the permutation
    arithmetic (h·a+b, a < 2^17) still fits signed 64-bit. Measured at
    sf0.1 this is the dominant term of minhash signature cost — see
    ``dedup.minhash_signatures(hash_fn=...)``. NOT oracle-mirrorable
    (DuckDB has no xxhash64), which is the only reason md5 stays the
    default."""
    return F.pmod(F.xxhash64(c), F.lit(MINHASH_P))


# --- shingling --------------------------------------------------------------


# One chain for both SQL dialects; DuckDB's regexp_replace replaces
# every match only with the 'g' option, Spark's always does.
_NORMALIZE = "trim(regexp_replace(regexp_replace(lower({}), '[^a-z0-9]+', ' '{g}), ' +', ' '{g}))"


def normalize(c: Column) -> Column:
    """Lowercase, collapse non-alphanumerics to single spaces, trim."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " ")
    )


def normalize_sparksql(expr: str) -> str:
    """Spark SQL text of :func:`normalize` over the SQL expression
    ``expr``: it parses as ONE expression (the ``text.tokens``
    rationale) into the identical tree."""
    return _NORMALIZE.format(expr, g="")


def normalize_sql(expr: str) -> str:
    """DuckDB fragment matching :func:`normalize`."""
    return _NORMALIZE.format(expr, g=", 'g'")


def char_shingles_sql(expr: str, n: int) -> str:
    """All character n-grams of the normalized text (with duplicates):
    the DuckDB mirror of :func:`explode_char_shingles`, as a list."""
    norm = normalize_sql(expr)
    return (
        f"list_transform(range(1, greatest(length({norm}) - {n - 1}, 1) + 1), "
        f"i -> substr({norm}, i, {n}))"
    )


def word_shingles(c: Column, n: int) -> Column:
    """All word n-grams (space-joined) of the normalized text."""
    toks = F.split(normalize(c), " ")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def explode_char_shingles(df, id_col: str, text_col: str, n: int):
    """(id, shingle) rows — one per character n-gram position.

    Shaped so the normalized text is computed ONCE per document: a
    Project materializes ``_norm``, a Generate explodes positions, and
    the shingle substring runs per exploded row against the attribute.
    The lambda form (transform over sequence) re-evaluates the
    normalize() regex chain per element once Catalyst collapses
    projects — O(|doc|) regex per doc instead of O(1)."""
    normed = df.select(F.col(id_col), normalize(F.col(text_col)).alias("_norm"))
    pos = normed.select(
        id_col,
        "_norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("_norm") - (n - 1), F.lit(1)))
        ).alias("_i"),
    )
    return pos.select(
        id_col, F.col("_norm").substr(F.col("_i"), F.lit(n)).alias("shingle")
    )


def explode_word_shingles(df, id_col: str, text_col: str, n: int):
    """(id, shingle) rows — one per word n-gram position; tokens are
    materialized once per document (same rationale as the char form)."""
    toked = df.select(
        F.col(id_col), F.split(normalize(F.col(text_col)), " ").alias("_toks")
    )
    pos = toked.select(
        id_col,
        "_toks",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("_toks") - (n - 1), F.lit(1)))
        ).alias("_i"),
    )
    return pos.select(
        id_col,
        F.array_join(F.slice(F.col("_toks"), F.col("_i"), n), " ").alias("shingle"),
    )


def word_shingles_sql(expr: str, n: int) -> str:
    toks = f"str_split({normalize_sql(expr)}, ' ')"
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


# --- MinHash / LSH banding --------------------------------------------------
# NOTE: signatures are intentionally NOT built as per-row array
# expressions (array_min(transform(...)) per permutation): Catalyst's
# project collapsing re-inlines the shingle+hash pipeline into each of
# the k references. dedup.minhash_signatures / simhash_col use the
# inverted explode + groupBy-aggregate formulation instead.


# --- seeded digests: wide keys and multi-position slicing ------------------
# md5 of ``seed + '-' + value``. The distinct/priority samplers read one
# 60-bit window (seeded_hash); the sketches read its four 8-hex windows
# as up to 4 independent 32-bit hashes (Kirsch-Mitzenmacher), ONE
# digest per key instead of k/d.

DIGEST_SLICES = 4  # md5 = 32 hex chars = 4 x 8-hex 32-bit windows


def seeded_digest(c: Column, seed: str) -> Column:
    """md5 hex digest of ``seed + '-' + value`` (NULL in -> NULL out)."""
    return F.md5(F.concat(F.lit(f"{seed}-"), c))


def seeded_digest_sql(expr: str, seed: str) -> str:
    """DuckDB fragment matching :func:`seeded_digest`."""
    return f"md5('{seed}-' || {expr})"


def seeded_digest_sparksql(expr: str, seed: str) -> str:
    """Spark SQL text of :func:`seeded_digest` over ``expr``."""
    return f"md5(concat('{seed}-', {expr}))"


def seeded_hash(c: Column, seed: str, width: int) -> Column:
    """The first ``width`` hex chars of the seeded digest, as an int."""
    return hex_window(seeded_digest(c, seed), 1, width)


def seeded_hash_sql(expr: str, seed: str, width: int) -> str:
    """DuckDB fragment matching :func:`seeded_hash`."""
    return hex_window_sql(seeded_digest_sql(expr, seed), 1, width)


def digest_slice(digest: Column, i: int, mod: int) -> Column:
    """32-bit slice ``i`` (0..3) of an md5 hex digest, mod ``mod``."""
    return F.pmod(hex_window(digest, 1 + 8 * i, 8), F.lit(mod))


def digest_slice_sparksql(digest: str, i: int, mod: int) -> str:
    """Spark SQL text of :func:`digest_slice` over the digest ``digest``."""
    return (
        f"pmod(cast(conv(substring({digest}, {1 + 8 * i}, 8), 16, 10) "
        f"as bigint), {mod})"
    )


def digest_slice_sql(expr: str, seed: str, i: int, mod: int) -> str:
    """DuckDB fragment matching ``digest_slice(seeded_digest(expr))``."""
    return f"({hex_window_sql(seeded_digest_sql(expr, seed), 1 + 8 * i, 8)} % {mod})"


def band_hash_sql(sig_expr: str, band: int, rows_per_band: int) -> str:
    lo = band * rows_per_band + 1
    hi = lo + rows_per_band - 1
    return (
        f"md5(array_to_string(list_transform(list_slice({sig_expr}, {lo}, {hi}), "
        "x -> CAST(x AS VARCHAR)), ','))"
    )


def band_hash_sparksql(sig_expr: str, band: int, rows_per_band: int) -> str:
    """Spark-SQL text of the md5 of one signature band (rows_per_band
    consecutive components of ``sig_expr``), parsed in one py4j
    round-trip; :func:`band_hash_sql` is its DuckDB mirror."""
    lo = band * rows_per_band + 1
    return (
        f"md5(array_join(transform(slice({sig_expr}, {lo}, {rows_per_band}), "
        "x -> CAST(x AS STRING)), ','))"
    )


