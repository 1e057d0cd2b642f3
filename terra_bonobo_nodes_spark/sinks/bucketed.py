"""Bucketed-table sink: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a repeated big-big equi-join (events x
users, lineitem x orders) is re-shuffling both sides on every query.
Bucketing pays that shuffle ONCE at write time: `bucketBy(n, key)`
hash-partitions rows into fixed buckets inside each table, and Spark's
scan reports the bucketing as an output partitioning — a later join on
the bucket key needs NO Exchange on either side (sort-merge directly on
bucket pairs; `tests/test_sources_sinks.py` asserts the Exchange-free
plan). The cluster-scale recipe:

- bucket the fact tables all pipelines join on, same key + same bucket
  count on both sides (mismatched counts fall back to shuffling one side);
- ``sortBy`` the same key so the merge join skips the per-bucket sort;
- bucket counts sized so a bucket ~ one task's worth of data at target
  scale (128-512 MB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a parquet table in the session catalog,
    bucketed and bucket-sorted on ``key``."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    w.sortBy(*keys).saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. With
    matching bucket specs this plans as a zero-Exchange sort-merge join."""
    keys = [key] if isinstance(key, str) else list(key)
    return spark.table(left_table).join(spark.table(right_table), keys, how)
