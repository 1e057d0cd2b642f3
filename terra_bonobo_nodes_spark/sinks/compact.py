"""Small-file compaction for parquet directories.

Streaming upserts, micro-batch appends and over-parallel writes leave
parquet directories with thousands of KB-sized files; at 100 TB the
resulting footer/open overhead dominates scan time ("the small-files
problem"). This sink rewrites a directory into ~``target_bytes`` files
using the staged-swap protocol from :mod:`sinks.atomic` — crash-safe
and idempotent, the maintenance job every table needs scheduled.

The reference has no equivalent (its store is PostGIS/ES, where vacuum
and force-merge play this role — terra.py's LoadFeatureInLayer and
elasticsearch.py's force-merge-adjacent index tuning, K4); this is the
parquet-native analogue.

Plan shape: one read (file listing + footers), one ``repartition(n)``
round-robin exchange (size-balanced output without a sort), one
executor-parallel write into the staged dir, three driver-side renames.
The data never visits the driver. Ordering within the table is NOT
preserved — pair with :func:`operators.layout.zorder_layout` when
a clustered layout should survive compaction.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from terra_bonobo_nodes_spark.sinks.atomic import _local, staged_overwrite


def parquet_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a local parquet directory."""
    root = _local(path)
    n, total = 0, 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(dirpath, f))
    return n, total


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ``ceil(total_bytes / target_bytes)`` files
    (at least 1). Returns the new file count, or -1 if the directory is
    already at or below the target layout (fewer than ``min_files``
    files or one file per target chunk already) — the no-op fast path a
    scheduled maintenance job needs to be cheap.

    ``sort_cols`` re-sorts within output files (e.g. the z-order
    column) so min/max pruning survives the rewrite."""
    n_files, total = parquet_file_stats(path)
    n_out = max(1, math.ceil(total / target_bytes))
    if n_files < min_files or n_files <= n_out:
        return -1
    df = spark.read.parquet(path)
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    staged_overwrite(out, path)
    return parquet_file_stats(path)[0]
