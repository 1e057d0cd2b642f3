"""Data-layout operators: Z-order clustering keys and zone-map pruning.

At 100 TB the scan you avoid is worth more than the scan you speed
up: engines skip whole files via zone maps (per-file min/max column
stats — parquet row-group stats, Delta/Iceberg file stats), and a
file layout clustered on ONE column prunes only that column's
predicates. Z-ORDERING (Morton, 1966 — interleave the bits of two
bucketed columns) makes file ranges contiguous in BOTH dimensions at
once, so a rectangle predicate touches O(perimeter) files instead of
O(all) — what Delta's ``OPTIMIZE ZORDER BY`` and Iceberg's sort-order
rewrite do. This module provides the key and the measurement:

- :func:`morton_key` — the 2-D bit interleave as five mask-and-shift
  steps (the standard magic-number spread), pure JVM integer ops
  inside whole-stage codegen; a repartitionByRange/sortWithinPartitions
  or write-time ``sortBy`` on this key IS the clustering step.
- :func:`zorder_layout` — that clustering step: range-partition and
  sort a DataFrame on the key.
- :func:`zone_maps` — per-file min/max stats for the probe columns
  (what the table format stores per file).
- :func:`probe_scan_counts` — for a set of rectangle predicates,
  how many files a zone-map pruner must read. Run against two
  layouts of the same rows, it turns "is this layout 100 TB-shaped"
  into a number (the layout_zorder_pruning row does exactly that:
  natural insert order vs Z-order over the same orders table).

Everything is exact BIGINT bit arithmetic (masks < 2^63, inputs
guarded to [0, 2^31)), so layouts, zone maps, and scan counts
replay bit-for-bit in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Interleave masks: spread a 31-bit value so its bits occupy even
# positions of a 62-bit word (x | x<<s, masked, for s = 16,8,4,2,1).
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
MAX_COORD = (1 << 31) - 1


def _spread(m: Column) -> Column:
    for sh, mask in _SPREAD:
        m = m.bitwiseOR(F.shiftleft(m, sh)).bitwiseAND(F.lit(mask))
    return m


def morton_key(x: Column, y: Column) -> Column:
    """Z-order key of two coordinates in [0, 2^31): x takes the even
    bit positions, y the odd — adjacent keys are adjacent in both
    dimensions at every scale. NULL in -> NULL out. The caller
    buckets raw values into the coordinate range (pmod / histogram
    bin / epoch-day). A coordinate outside [0, MAX_COORD] would alias
    to another cell's key (distant cells sharing row groups — the
    locality failure Z-ordering exists to prevent), so the expression
    fails per row instead, like the engine's other guards (knn_join
    cartesian, brute_force_topk cap)."""
    # widen first: shiftleft on an INT operand stays INT and overflows
    xl, yl = x.cast("bigint"), y.cast("bigint")
    z = _spread(xl).bitwiseOR(F.shiftleft(_spread(yl), 1))
    bad = (xl < 0) | (xl > MAX_COORD) | (yl < 0) | (yl > MAX_COORD)
    return F.when(
        bad,
        F.raise_error(
            F.format_string(
                f"morton_key: coordinate out of [0, {MAX_COORD}]: x=%s y=%s",
                xl,
                yl,
            )
        ),
    ).otherwise(z)


def zorder_layout(
    df: DataFrame,
    x: Column,
    y: Column,
    n_partitions: int = 32,
    z_col: str = "z",
) -> DataFrame:
    """Arrange rows in Z-order: compute :func:`morton_key`, range-
    partition on it, sort within each partition. Written as parquet,
    nearby cells land in the same row groups, so a spatial bbox
    predicate prunes by min/max statistics instead of scanning — the
    engine-side analogue of the reference's reliance on PostGIS GiST
    (SURVEY §2 spatial-indexing row). One range exchange (sampled
    boundaries) + local sort; no global sort."""
    out = df.withColumn(z_col, morton_key(x, y))
    return out.repartitionByRange(n_partitions, z_col).sortWithinPartitions(z_col)


def _spread_sql(expr: str) -> str:
    # widen first: DuckDB's << keeps INTEGER operands in int32 and
    # raises Out of Range past 2^31 (observed at 32768 << 16)
    expr = f"CAST({expr} AS BIGINT)"
    for sh, mask in _SPREAD:
        expr = f"((({expr}) | (({expr}) << {sh})) & {mask})"
    return expr


def morton_key_sql(x_expr: str, y_expr: str) -> str:
    """DuckDB fragment matching :func:`morton_key`. The spread
    re-inlines its operand per mask level (2^5 = 32 column refs) —
    fine for a column reference, so pass simple expressions."""
    return f"({_spread_sql(x_expr)} | ({_spread_sql(y_expr)} << 1))"


def file_assignments(
    df: DataFrame,
    order_cols: list[str | Column],
    n_files: int,
    file_col: str = "file_id",
) -> DataFrame:
    """Assign rows to ``n_files`` equal-size files in the given total
    order (pass a unique tiebreak column last — ntile over a total
    order is deterministic). This MODELS the write: a real pipeline
    does ``repartitionByRange(n, *order_cols)`` + per-file write; the
    single-window form keeps the modeled layout exactly reproducible
    for the oracle. file_id is 1-based (ntile semantics)."""
    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    w = Window.orderBy(*order_cols)
    return df.withColumn(file_col, F.ntile(n_files).over(w))


def zone_maps(
    df: DataFrame,
    x_col: str,
    y_col: str,
    file_col: str = "file_id",
) -> DataFrame:
    """Per-file min/max of the two probe columns — the stats a table
    format keeps per data file. Bounded output: one row per file."""
    return df.groupBy(file_col).agg(
        F.min(x_col).alias("min_x"),
        F.max(x_col).alias("max_x"),
        F.min(y_col).alias("min_y"),
        F.max(y_col).alias("max_y"),
    )


def probe_scan_counts(
    zones: DataFrame,
    probes: list[tuple[int, int, int, int, int]],
) -> DataFrame:
    """Files a zone-map pruner must scan per rectangle probe
    (probe_id, x_lo, x_hi, y_lo, y_hi), bounds inclusive: a file is
    scanned iff its zone intersects the rectangle. The join is
    n_files x n_probes rows — both sides bounded and tiny (zones are
    per-FILE stats, never per-row), so the explicit broadcast product
    is the correct plan at any corpus size."""
    if not probes:
        raise ValueError("probes must be non-empty")
    # ONE parsed expression, not array(struct(lit...)) per probe: the
    # op-by-op Column build pays a py4j round-trip per operator (~11
    # per probe row, twice per zorder query build — the r17 generated-
    # literal rule); the parsed named_struct array folds to the
    # identical literal rows
    rows_sql = "array(" + ",".join(
        f"named_struct('probe_id',{int(p)},'x_lo',{int(xl)},"
        f"'x_hi',{int(xh)},'y_lo',{int(yl)},'y_hi',{int(yh)})"
        for p, xl, xh, yl, yh in probes
    ) + ")"
    pdf = (
        zones.sparkSession.range(1)
        .select(F.explode(F.expr(rows_sql)).alias("p"))
        .select("p.*")
    )
    overlaps = (
        (F.col("max_x") >= F.col("x_lo"))
        & (F.col("min_x") <= F.col("x_hi"))
        & (F.col("max_y") >= F.col("y_lo"))
        & (F.col("min_y") <= F.col("y_hi"))
    )
    return (
        F.broadcast(pdf)
        .crossJoin(zones)
        .groupBy("probe_id", "x_lo", "x_hi", "y_lo", "y_hi")
        .agg(F.sum(overlaps.cast("bigint")).alias("files_scanned"))
    )
