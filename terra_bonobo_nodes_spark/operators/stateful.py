"""Order-dependent / lifecycle operators as window functions.

The reference keeps mutable state in ``ValueHolder`` cells and relies on
arrival order (SURVEY.md §2.7). Spark makes the ordering explicit: every
operator here takes partition + order columns, which is also what makes
the semantics deterministic and scale-safe.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_lag_diff(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    col: str,
    out: str = "diff",
    diff: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """``IsochroneSubstraction``'s pattern (``common.py:519-532``):
    ``x[i] := x[i] - x[i-1]`` over an explicit ordering, seeded so the
    first row keeps its full value (reference seeds with POINT EMPTY).

    ``diff`` customizes the combiner (e.g. geometric ST_Difference via
    the geo kernel); default is numeric subtraction with a 0 seed.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    prev = F.lag(F.col(col), 1).over(w)
    combine = diff or (lambda cur, pre: cur - F.coalesce(pre, F.lit(0.0)))
    return df.withColumn(out, combine(F.col(col), prev))


def upsert_last_writer_wins(
    df: DataFrame,
    key: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """``LoadFeatureInLayer``'s delete-then-insert upsert semantics
    (``terra.py:155-161``): last writer per identifier wins across the
    batch. Dedupe by key with an explicit recency ordering BEFORE the
    write — avoids the reference's intra-batch double-apply hazard
    (SURVEY.md §7 hard-part 5).

    Scale: one hash partition on the key; AQE handles skewed keys.
    The rank rides in a working column ``_rn``; a ``df`` that already
    has one raises ValueError instead of losing it.
    """
    if "_rn" in df.columns:
        raise ValueError(
            "df already has reserved working column '_rn'; rename it "
            "before upsert_last_writer_wins"
        )
    w = Window.partitionBy(*key).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def clean_older_than(
    df: DataFrame, ts_col: str, cutoff: str | Column
) -> DataFrame:
    """``CleanOlderThan`` (``terra.py:497-520``): retention filter
    ``updated_at >= cutoff``. As a sink-side op this becomes a partition
    overwrite / Delta DELETE; as a transform it is a pushdown-friendly
    filter (partition-prunes when the table is date-partitioned).
    """
    cut = F.lit(cutoff).cast("timestamp") if isinstance(cutoff, str) else cutoff
    return df.filter(F.col(ts_col) >= cut)


def linear_trend(
    df: DataFrame,
    group_by: Sequence[str],
    x: Column,
    y: Column,
    slope_col: str = "slope",
    intercept_col: str = "intercept",
    n_col: str = "n",
) -> DataFrame:
    """Per-group ordinary-least-squares trend (slope + intercept of y
    over x) from exact accumulated moments — the per-entity drift /
    velocity feature a curation or monitoring pipeline extracts from
    event streams (the reference computes rate-of-change features
    row-at-a-time in its ValueHolder accumulators, common.py:522-564).

    Numerics contract: the four moments Σx, Σy, Σxy, Σx² accumulate in
    DECIMAL(38,6) — reduction-order-independent, so partial/final
    aggregation equals any sequential fold bit-for-bit, at the price of
    quantizing each term to 1e-6 before accumulating. Feed INTEGRAL x
    and y (e.g. epoch seconds offset to a small origin, values in
    cents) to make that quantization a no-op and the moments fully
    exact; rescale slope/intercept in a projection afterwards. Only the
    final slope/intercept arithmetic runs in double, on identical
    inputs, so the result is engine- and partitioning-independent.

    One shuffle on the group key with map-side partial aggregation;
    constant state per group.
    """
    xd, yd = x.cast("double"), y.cast("double")
    # a row missing either coordinate contributes to NO moment — the
    # sums skip NULLs, so counting it would silently skew the fit
    df = df.where(xd.isNotNull() & yd.isNotNull())
    dec = "decimal(38,6)"
    m = df.groupBy(*group_by).agg(
        F.count(F.lit(1)).alias(n_col),
        F.sum(xd.cast(dec)).alias("_sx"),
        F.sum(yd.cast(dec)).alias("_sy"),
        F.sum((xd * yd).cast(dec)).alias("_sxy"),
        F.sum((xd * xd).cast(dec)).alias("_sxx"),
    )
    n = F.col(n_col).cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy, sxx = F.col("_sxy").cast("double"), F.col("_sxx").cast("double")
    det = n * sxx - sx * sx
    slope = F.when(det != 0.0, (n * sxy - sx * sy) / det).otherwise(F.lit(0.0))
    out = m.withColumn(slope_col, slope)
    return out.withColumn(
        intercept_col, (sy - F.col(slope_col) * sx) / n
    ).drop("_sx", "_sy", "_sxy", "_sxx")


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column,
    weight: Column,
    out_col: str = "w_median",
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v such
    that the total weight of rows with value <= v reaches half the
    group's weight. Integer weights + the ``2*cum >= W`` comparison
    keep the decision free of float division, so every engine and
    partitioning picks the same v (ties in v are first pre-aggregated
    away, so within-value order cannot matter).

    Plan: groupBy(group, value) collapses duplicates map-side, ONE
    window cumsum ordered by value within the group, one min. State is
    one running sum per group — no sort-the-world, no collect."""
    g = list(group_cols)
    # NULL values cannot be placed on the value axis, and Spark sorts
    # them FIRST in the cumsum window where DuckDB sorts them last —
    # including them would both skew cum and diverge across engines
    per_v = (
        df.where(value.isNotNull())
        .groupBy(*g, value.alias("_v"))
        .agg(F.sum(weight.cast("long")).alias("_w"))
    )
    w_cum = (
        Window.partitionBy(*g)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*g)
    cum = per_v.withColumn("_cum", F.sum("_w").over(w_cum)).withColumn(
        "_tot", F.sum("_w").over(w_all)
    )
    return (
        cum.where(2 * F.col("_cum") >= F.col("_tot"))
        .groupBy(*g)
        .agg(F.min("_v").alias(out_col))
    )
