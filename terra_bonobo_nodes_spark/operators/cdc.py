"""Change-data-capture application: changelog → current state.

The reference's K1 sink upserts one batch into the feature store
(delete-then-insert per identifier window, ``terra.py:155-161``); a
CDC-shaped ingest generalizes that to a LOG of keyed changes
(insert/update/delete, Debezium/DMS style) that must be collapsed and
applied onto a base snapshot — the operation Delta Lake ships as
``APPLY CHANGES INTO``, here expressed with plain DataFrame ops.

Scale shape (100 TB): the base snapshot is the big side and is NEVER
shuffled — collapsing the changelog costs one window over the (small)
changelog, and applying it is a LEFT ANTI join keyed on the primary key
(the collapsed changelog's key set is broadcast: the snapshot≫changelog
case) plus a union. No MERGE engine support needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def collapse_changes(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """One surviving change per key: the highest ``seq_col`` wins
    (a CDC log's LSN/commit sequence). Ties on (key, seq) — which a
    well-formed log does not produce — break deterministically on
    ``op_col`` descending, so the result never depends on
    partitioning."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a keyed changelog onto a base snapshot and return the new
    current state (the batch equivalent of Delta's APPLY CHANGES INTO).

    Semantics per key: the latest change (max ``seq_col``) decides —
    ``delete_op`` removes the row; any other op (insert and update are
    the same upsert under last-writer-wins) replaces it with the
    change's payload columns. Keys without changes pass through from
    ``base`` untouched. ``changes`` must carry the key columns,
    ``seq_col``, ``op_col``, and exactly the base payload columns.

    Plan: one window shuffle on the changelog, one anti-join keyed on
    the primary key, one union. The snapshot is scanned once and never
    shuffled. The collapsed changelog's key set is broadcast into the
    anti-join build side — the nightly-changelog case.
    """
    keys = list(key_cols)
    missing = [c for c in base.columns if c not in changes.columns]
    if missing:
        raise ValueError(
            f"apply_changes: changelog lacks base payload columns {missing}; "
            "a CDC upsert row must carry the full row image"
        )
    latest = collapse_changes(changes, keys, seq_col, op_col)
    survivors = base.join(F.broadcast(latest.select(*keys)), keys, "left_anti")
    # a NULL op is a malformed CDC record, not a delete: the naive
    # `op != delete_op` filter is NULL for it, which would silently
    # drop the key from the snapshot. Fail fast in-plan instead
    # (assert_true returns NULL on success; wiring it into the filter
    # keeps column pruning from optimizing the guard away).
    op_ok = F.when(
        F.assert_true(
            F.col(op_col).isNotNull(),
            f"apply_changes: NULL {op_col} in changelog (malformed CDC "
            "record) — a missing op is not a delete",
        ).isNull(),
        F.col(op_col),
    )
    upserts = latest.where(op_ok != delete_op).select(*base.columns)
    return survivors.unionByName(upserts)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    verdict_col: str = "verdict",
) -> DataFrame:
    """Version-over-version corpus diff — the inverse question of
    :func:`apply_changes`: given two SNAPSHOTS (no changelog — e.g.
    two monthly crawl curations, or a snapshots.py time-travel pair),
    label every key ``added`` / ``removed`` / ``changed`` /
    ``unchanged``. This is the report a curation team reads before
    promoting a new corpus version: how much churned, and where.

    ``compare_cols`` are the value columns whose inequality means
    ``changed`` (default: every shared non-key column). NULL-safe
    comparison (``<=>``): NULL == NULL is unchanged, NULL vs value is
    changed. KEY columns are joined with plain equality, so a NULL key
    never matches across versions — a NULL-keyed row reports as
    removed+added, not unchanged (snapshots should not have NULL keys;
    this makes the violation visible instead of silently pairing). Emits the key columns, the verdict, and each compared
    column's old/new pair (``<col>_old`` / ``<col>_new``) so the diff
    is directly actionable.

    Scale shape (100 TB): ONE full outer join on the key — exactly the
    shuffle the question requires (both sides hash-partition by key;
    with bucketed snapshot tables even that exchange vanishes). The
    per-column comparison is codegen; no window, no Python, nothing
    driver-side. Downstream aggregation to a churn summary is one
    combinable groupBy on the verdict."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("snapshot_diff needs at least one key column")
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    cmp_cols = list(compare_cols)
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys],
        *[F.col(c).alias(f"{c}_old") for c in cmp_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys],
        *[F.col(c).alias(f"{c}_new") for c in cmp_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in keys:
        e = F.col(f"_ko_{k}") == F.col(f"_kn_{k}")
        cond = e if cond is None else (cond & e)
    j = o.join(n, cond, "full_outer")
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    verdict = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    key_out = [
        F.coalesce(F.col(f"_ko_{k}"), F.col(f"_kn_{k}")).alias(k) for k in keys
    ]
    pair_out = [
        c
        for pair in (
            (F.col(f"{x}_old"), F.col(f"{x}_new")) for x in cmp_cols
        )
        for c in pair
    ]
    return j.select(*key_out, verdict.alias(verdict_col), *pair_out)


def snapshot_diff_summary(
    diff: DataFrame, verdict_col: str = "verdict"
) -> DataFrame:
    """Churn summary over a :func:`snapshot_diff` result: one row per
    verdict with its count — the number a promotion gate thresholds
    on. Combinable aggregate, 4 rows out."""
    return diff.groupBy(verdict_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys")
    )
