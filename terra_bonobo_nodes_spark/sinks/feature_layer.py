"""Feature-layer store: upsert + retention over partitioned parquet.

Capability parity with the geostore sinks (SURVEY.md §2.2):

- ``LoadFeatureInLayer`` (``terra.py:107-174``): buffered transactional
  delete-then-insert per identifier window. Here: one idempotent MERGE
  emulated on parquet in one pass — union the existing layer with the
  batch, hash-partition once on the identifier, keep the batch's last
  writer per identifier and the existing rows no batch row replaces,
  overwrite. The batch is read once, so a batch built by Python stages
  runs them once. (With Delta on the cluster this is a literal
  ``MERGE ON identifier``; parquet emulation keeps the environment
  dependency-free.)
- ``CleanOlderThan`` (``terra.py:497-520``): retention delete by
  timestamp cutoff = filtered rewrite.

Layout: one directory per layer (``{root}/layer={name}/``) — layer is a
partition column, so layer-scoped reads partition-prune. At 100 TB the
layer store would add a date/bucket partition level and only rewrite
affected partitions (delete-then-insert at partition granularity —
exactly what the overwrite below does per layer).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import wkb as W
from terra_bonobo_nodes_spark.sinks.atomic import (
    read_parquet_or_none,
    staged_overwrite,
)
from terra_bonobo_nodes_spark.sqltext import ident

EMPTY_POINT_WKB = W.write_wkb(W.POINT_EMPTY)

# working columns of the merge: which side a row came from (0 = the
# existing layer, 1 = the batch) and whether the row stays
_TAG, _KEEP = "_tag", "_keep"


def _layer_path(root: str, layer: str) -> str:
    return os.path.join(root, f"layer={layer}")


def _merged(
    existing: DataFrame | None,
    df: DataFrame,
    identifier_col: str,
    geom_col: str,
    order_col: str | None,
) -> DataFrame:
    """The layer after upserting ``df`` into ``existing`` (None: no
    layer yet), in one pass: one hash partition on the identifier ranks
    the batch's rows first, last writer (``order_col`` descending)
    leading. Kept: the first-ranked batch row per identifier (all null
    identifiers count as one), and every existing row whose identifier
    is null or touched by no batch row — so existing duplicates survive
    an upsert that leaves their identifier alone."""
    for side, frame in (("batch", df), ("existing layer", existing)):
        clash = {_TAG, _KEEP} & set(frame.columns if frame is not None else ())
        if clash:
            raise ValueError(
                f"{side} already has reserved working column(s) "
                f"{sorted(clash)}; rename them before load_feature_in_layer"
            )
    # parsed SQL text, not Column operators (``sqltext`` says why)
    geom = ident(geom_col) if geom_col in df.columns else "NULL"
    rows = df.withColumns(
        {
            geom_col: F.expr(f"coalesce({geom}, X'{EMPTY_POINT_WKB.hex()}')"),
            "updated_at": F.expr("current_timestamp()"),
            _TAG: F.expr("1"),
        }
    )
    if existing is not None:
        rows = existing.withColumn(_TAG, F.expr("0")).unionByName(
            rows, allowMissingColumns=True
        )
    key = ident(identifier_col)
    order = f", {ident(order_col)} DESC" if order_col else ""
    w = f"OVER (PARTITION BY {key} ORDER BY {_TAG} DESC{order})"
    # batch rows rank first, so the identifier's first row tells whether
    # the batch touches it
    keep = (
        f"CASE WHEN {_TAG} = 1 THEN row_number() {w} = 1 "
        f"ELSE {key} IS NULL OR NOT (first({_TAG}) {w} = 1) END"
    )
    return rows.withColumn(_KEEP, F.expr(keep)).filter(_KEEP).drop(_TAG, _KEEP)


def load_feature_in_layer(
    df: DataFrame,
    root: str,
    layer: str,
    identifier_col: str = "identifier",
    geom_col: str = "geom",
    order_col: str | None = None,
) -> None:
    """Upsert features into a layer (last writer per identifier wins).

    Geometry defaults to POINT EMPTY when absent (``terra.py:167``,
    ``terra.py:24``); ``updated_at`` is stamped for retention. The batch
    is deduped by identifier — the reference's window-by-window
    delete+insert double-applies on intra-batch duplicates (SURVEY §7
    hard-part 5); dedupe makes the upsert exact. A batch or layer that
    already holds one of the merge's working columns (``_tag``,
    ``_keep``) raises ValueError.
    """
    spark = df.sparkSession
    path = _layer_path(root, layer)
    existing = read_layer(spark, root, layer)
    merged = _merged(existing, df, identifier_col, geom_col, order_col)
    if existing is not None:
        # the plan reads `path`; staged swap rewrites it without a
        # driver round-trip (executors write {path}__next__, then rename)
        staged_overwrite(merged, path)
    else:
        merged.write.mode("overwrite").parquet(path)


def read_layer(spark: SparkSession, root: str, layer: str) -> DataFrame | None:
    return read_parquet_or_none(spark, _layer_path(root, layer))


def clean_older_than(
    spark: SparkSession, root: str, layer: str, cutoff, ts_col: str = "updated_at"
) -> int:
    """Retention delete: rewrite the layer keeping rows newer than
    ``cutoff``. Returns rows deleted. (Delta: a metadata-only DELETE.)"""
    existing = read_layer(spark, root, layer)
    if existing is None:
        return 0
    cut = F.lit(cutoff).cast("timestamp")
    kept = existing.filter(F.col(ts_col) >= cut)
    n_before = existing.count()
    staged_overwrite(kept, _layer_path(root, layer))
    n_after = spark.read.parquet(_layer_path(root, layer)).count()
    return n_before - n_after
