"""Loaders for the driver's deterministic parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. Parquet scans get predicate pushdown + column
pruning from Catalyst for free — every operator downstream should select
only what it needs so the scan's ReadSchema stays narrow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Footer-schema memo for every parquet table: a bare
# spark.read.parquet(path) runs eager schema inference — ~80-90ms of
# driver/JVM work per call — and a bench pass calls load_table 60+
# times, so inference alone cost seconds of pure plan-construction
# time per pass. The resolved footer schema is immutable per file
# (deterministic testdata; any real table would version its path), so
# sniff once per path per process and pass it to read.schema(...),
# which skips the inference. Metadata only — never rows.
_TABLE_SCHEMA_CACHE: dict[str, "T.StructType"] = {}


def _table_schema(spark: SparkSession, src: str):
    schema = _TABLE_SCHEMA_CACHE.get(src)
    if schema is None:
        schema = spark.read.parquet(src).schema
        _TABLE_SCHEMA_CACHE[src] = schema
    return schema


# Memo of the RELATION OBJECT per (live session, path) — exactly what
# spark.table() gives a catalog table. A DataFrame is an immutable
# logical plan; handing the same one to every query costs zero reader
# round-trips while the scan itself still plans and executes fully on
# every use (no rows, no results, nothing materialized — this is NOT
# .cache()). Keyed on the JVM session object so a stopped/rebuilt
# session can never leak a dead plan into a new one.
_TABLE_DF_CACHE: dict[tuple[int, str], DataFrame] = {}


def _read_parquet_memo(spark: SparkSession, src: str) -> DataFrame:
    key = (id(spark._jsparkSession), src)
    df = _TABLE_DF_CACHE.get(key)
    if df is None:
        df = spark.read.schema(_table_schema(spark, src)).parquet(src)
        _TABLE_DF_CACHE[key] = df
    return df


def _ensure_nanos_conf(spark: SparkSession) -> None:
    # Sessions built by get_spark already carry the flag; only mutate
    # config for externally-built sessions that would otherwise fail the
    # footer read, and only once (the get is a cheap driver-local call).
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def events_schema(spark: SparkSession, src: str):
    """Resolved parquet schema of an events file, memoized per path.

    events.ts has shipped in two parquet layouts across testdata
    generations: TIMESTAMP(NANOS) (which Spark rejects by default,
    [PARQUET_TYPE_ILLEGAL] — read as int64 nanos under the nanosAsLong
    legacy flag, then truncated to micros with integer DIV, exactly
    what DuckDB's reader does) and plain TIMESTAMP micros (read as
    TIMESTAMP_NTZ). Every read of the file needs the flag on the
    session, so it is ensured before the memo lookup."""
    _ensure_nanos_conf(spark)
    return _table_schema(spark, src)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize either events.ts layout to session-tz TIMESTAMP so every
    downstream window/unix_* expression sees one type. Works on batch and
    streaming DataFrames alike."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
        )
    if not isinstance(ts_type, T.TimestampType):
        # TIMESTAMP_NTZ → TIMESTAMP; wall clock is preserved under the
        # session timezone (sessions here pin UTC).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _snapshot_store(sf_dir: str, name: str) -> str | None:
    """A table backed by a versioned snapshot store instead of a plain
    parquet file: ``{sf_dir}/{name}/`` containing the store's
    ``_latest.json`` manifest (``sinks/snapshots.py``). Plain-parquet
    layouts use ``{name}.parquet``, so the two never collide."""
    store = os.path.join(sf_dir, name)
    if os.path.isfile(os.path.join(store, "_latest.json")):
        return store
    return None


def load_table(
    spark: SparkSession, sf_dir: str, name: str, version: int | None = None
) -> DataFrame:
    """Load one table. If ``{sf_dir}/{name}/`` is a versioned snapshot
    store (``sinks/snapshots.py``), the read routes through
    ``snapshot_read`` — ``version=None`` reads the published head,
    ``version=N`` replays the corpus exactly as run N saw it, through
    the SAME entry point every registered query uses (the
    reproducible-training replay seam, VERDICT_r09 item 4). A
    ``version=`` against a plain parquet table is a typed error: a
    moving file cannot answer a pinned read."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    store = _snapshot_store(sf_dir, name)
    if store is not None:
        from terra_bonobo_nodes_spark.sinks.snapshots import snapshot_read

        df = snapshot_read(spark, store, version=version)
        return normalize_events_ts(df) if name == "events" else df
    if version is not None:
        raise ValueError(
            f"load_table: version={version} needs a snapshot store at "
            f"{os.path.join(sf_dir, name)!r}, but {name} is a plain "
            "parquet table here — a moving file cannot answer a pinned "
            "read"
        )
    if name == "events":
        src = os.path.join(sf_dir, "events.parquet")
        # the ts-normalized relation rides the same per-(session, path)
        # memo as every other table — keyed with a suffix so the raw
        # and normalized plans can never collide
        key = (id(spark._jsparkSession), src + "#normalized")
        df = _TABLE_DF_CACHE.get(key)
        if df is None:
            # the memoized schema skips Spark's own footer inference
            schema = events_schema(spark, src)
            df = normalize_events_ts(spark.read.schema(schema).parquet(src))
            _TABLE_DF_CACHE[key] = df
        return df
    src = os.path.join(sf_dir, f"{name}.parquet")
    return _read_parquet_memo(spark, src)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Redistribute a too-narrow input across the session's cores
    before expensive per-row work (Python kernels, shingle explode +
    hash pipelines). A single-row-group parquet file — this sandbox's
    testdata, and any unsplittable input (gzip, tiny dimension files)
    — plans as ONE scan task no matter what
    ``spark.sql.files.maxPartitionBytes`` says, serializing all
    per-row compute onto one core while the rest of the cluster
    idles; the optimization guide (§2.5) prescribes repartition-
    after-read for exactly this. Gated: an input already split at
    least as wide as ``defaultParallelism`` — every healthy 100 TB
    scan — passes through untouched, so the shuffle is only paid when
    the input is small enough for it to be cheap. Streaming inputs
    pass through (no RDD view to inspect). Results are unaffected:
    every downstream aggregate/join is partitioning-insensitive
    (pinned by the shuffle-layout-invariance tests)."""
    if df.isStreaming:
        return df
    # Inspect the INITIAL physical plan only (no execution): under AQE,
    # touching ``df.rdd`` on a plan that contains an Exchange would
    # EXECUTE the upstream query stages just to finalize the adaptive
    # plan — measured r17: the gate itself re-ran a join once per call.
    # A plan that already shuffles has established parallelism anyway,
    # so only exchange-free (scan-level) inputs are candidates; on
    # those ``.rdd`` is a lazy wrapper and getNumPartitions is free.
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)
