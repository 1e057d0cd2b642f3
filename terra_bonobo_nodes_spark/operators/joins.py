"""Join-shaped operators: decorrelated enrichment, kNN top-k joins.

The reference has no equi-join node — it round-trips to PostGIS per row
(N+1 queries). Here those patterns become real Catalyst joins
(SURVEY.md §2.6), with broadcast hints where one side is a dimension.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def attribute_from_sql(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    attr: str = "attr",
    child_cols: Sequence[str] | None = None,
) -> DataFrame:
    """``AttributeFromSQL`` (``sql.py:41-82``), decorrelated.

    The reference executes one correlated SQL query *per record* and
    stores the result set as ``record[attr] = [dict, ...]``. The Spark
    plan runs the child once, pre-aggregates ``collect_list(struct(...))``
    per key (duplicates preserved, matching ``sql.py:70-80``), and LEFT
    OUTER joins — exactly Catalyst's subquery decorrelation, done
    declaratively. Parents with no children get an empty array (the
    reference stores ``[]``).

    Scale: one shuffle on the key for the pre-aggregation, one for the
    join (or zero if the aggregated child broadcasts). The per-row N+1
    of the reference is gone entirely.
    """
    cols = list(child_cols) if child_cols else [c for c in child.columns]
    agg = child.groupBy(F.col(child_key).alias(parent_key)).agg(
        F.collect_list(F.struct(*[F.col(c) for c in cols])).alias(attr)
    )
    joined = parent.join(agg, on=parent_key, how="left")
    return joined.withColumn(
        attr, F.coalesce(F.col(attr), F.array().cast(joined.schema[attr].dataType))
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    left_id: str,
    k: int,
    max_distance: float | None = None,
    right_filter: Column | None = None,
    tie_breaker: str | None = None,
    distance_col: str = "distance",
    rank_col: str = "rank",
    cell: float | None = None,
) -> DataFrame:
    """``ClosestFeatures`` (``terra.py:282-331``): k nearest right-rows
    per left-row by euclidean distance, optional ``distance < max``,
    optional right-side pre-filter (the reference's property-equality
    filter, ``terra.py:308-310``).

    Column names must be disjoint across the two sides. Distance uses
    explicit ``dx*dx`` products (not ``pow``) so results are IEEE-
    deterministic and bit-identical across engines. ``tie_breaker``
    (a right-side column) makes the top-k deterministic under equal
    distances.

    ``cell`` picks the candidate-pair plan; both end in the same
    distance, ``max_distance`` filter and window top-k per left id.
    The reference issues one ordered+limited PostGIS query per record;
    here it is one distributed join plus one window.

    - ``cell=None``: broadcast cross join. With a dimension-sized right
      side (the common case — "closest hospital/station") it is
      shuffle-free except the window's hash partition on ``left_id``,
      which is perfectly parallel.
    - a finite ``cell > 0`` (requires ``max_distance``): the grid plan
      for two huge sides. Both sides bucket into ``cell``-sized grid
      cells, each left row replicates into the neighborhood of
      ``reach = ceil(max_distance / cell)`` cells in every direction,
      and the sides equi-join on the cell key instead of a cross
      product. Any pair within ``max_distance`` is at most ``reach``
      cells apart on each axis, so it shares a replicated cell and the
      result equals the broadcast plan's. ``cell < max_distance``
      trades a wider replication factor for finer partitions — useful
      under skew.

    Any other ``cell`` (zero, negative, NaN, infinite), or a ``cell``
    without ``max_distance``, raises ValueError.
    """
    lx, ly = left_xy
    rx, ry = right_xy
    r = right.filter(right_filter) if right_filter is not None else right
    if cell is None:
        joined = left.crossJoin(F.broadcast(r))
    else:
        if not (math.isfinite(cell) and cell > 0):
            raise ValueError(f"cell must be a finite number > 0, got {cell!r}")
        if max_distance is None:
            raise ValueError("knn_join with a cell needs max_distance")
        c = float(cell)
        reach = math.ceil(max_distance / c)
        offsets = F.array(*[F.lit(i) for i in range(-reach, reach + 1)])
        lcells = (
            left.withColumn("_cx0", F.floor(F.col(lx) / c).cast("long"))
            .withColumn("_cy0", F.floor(F.col(ly) / c).cast("long"))
            .withColumn("_dx", F.explode(offsets))
            .withColumn("_dy", F.explode(offsets))
            .withColumn("_cx", F.col("_cx0") + F.col("_dx"))
            .withColumn("_cy", F.col("_cy0") + F.col("_dy"))
            .drop("_cx0", "_cy0", "_dx", "_dy")
        )
        rcells = r.withColumn("_cx", F.floor(F.col(rx) / c).cast("long")).withColumn(
            "_cy", F.floor(F.col(ry) / c).cast("long")
        )
        joined = lcells.join(rcells, on=["_cx", "_cy"]).drop("_cx", "_cy")
    dx = F.col(lx) - F.col(rx)
    dy = F.col(ly) - F.col(ry)
    joined = joined.withColumn(distance_col, F.sqrt(dx * dx + dy * dy))
    if max_distance is not None:
        joined = joined.filter(F.col(distance_col) < F.lit(max_distance))
    order = [F.col(distance_col).asc()]
    if tie_breaker:
        order.append(F.col(tie_breaker).asc())
    w = Window.partitionBy(F.col(left_id)).orderBy(*order)
    return joined.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: explode the (small) right side into
    salt_buckets replicas, salt the left side's key uniformly, join on
    (key, salt).

    When one join key carries a disproportionate share of rows (a viral
    document, a null-ish default id), the plain shuffle join sends the
    whole hot key to one task. Salting splits that key across
    salt_buckets tasks at the cost of replicating the right side
    salt_buckets times — the classic remedy when AQE's skew-join split
    (enabled in session.py) can't help, e.g. when the skew is in the
    build side of a shuffle join rather than partition sizes.

    The left's salt derives from a hash of the full row (monotonic id
    would also do) so it's uniform regardless of key distribution.
    """
    salt = (F.abs(F.xxhash64(*[F.col(c) for c in left.columns])) % salt_buckets)
    l_salted = left.withColumn("_salt", salt.cast("int"))
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return l_salted.join(r_salted, [key, "_salt"], how).drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    right_cols: Sequence[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Point-in-time (as-of) join: for every left row, the single right
    row with the same ``on`` key whose timestamp is the latest at-or-
    before the left timestamp (``direction="backward"``) or earliest
    at-or-after it (``"forward"``). The standard operation for joining
    events to slowly-changing state without a range blow-up; Spark has
    no built-in for it (the reference engine has none either — this is
    a scale-path extension).

    Plan (Spark-first, no interval explosion): tag both sides, union
    them, and take ``last(right_struct, ignorenulls=True)`` over a
    window partitioned by key and ordered by (ts, side) — the classic
    sort-merge formulation. ONE shuffle+sort on the key; state per
    partition is a single running struct, so memory is O(1) per key and
    no pair ever materializes beyond its match. A naive range join
    (``l.ts >= r.ts`` theta join + top-1) is quadratic per key and is
    exactly what this avoids at 100 TB. Key skew behaves like any
    window: AQE handles moderate skew, salting cannot apply (the
    running state is order-dependent), so extreme single-key skew
    should be pre-split upstream by time range.

    At equal timestamps the right row sorts first, so matches are
    INCLUSIVE (ts_right == ts_left matches), mirroring DuckDB/pandas
    ``asof`` semantics. ``tolerance_seconds`` nulls out matches further
    than the tolerance from the left timestamp. Right payload columns
    arrive suffixed; the matched right timestamp arrives as
    ``{right_ts}{suffix}``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    rts = right_ts or left_ts
    payload = [c for c in (right_cols or right.columns) if c not in (on, rts)]
    r2 = right.select(
        F.col(on).alias("_k"),
        F.col(rts).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(F.col(rts).alias("_ts"), *[F.col(c) for c in payload]).alias("_r"),
    )
    rtype = r2.schema["_r"].dataType
    l3 = left.select(
        *left.columns,
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(rtype).alias("_r"),
    )
    r3 = r2.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
        "_k",
        "_t",
        "_side",
        "_r",
    )
    u = l3.unionByName(r3)

    # right rows sort before left rows at equal ts (side 0 < 1 asc) so
    # the running last() is inclusive in both directions. The trailing
    # _r key breaks ties among right rows sharing (key, ts)
    # deterministically (struct ordering = lexicographic over fields;
    # left rows are all NULL there, so their relative order is moot) —
    # without it last() would pick whichever duplicate the shuffle
    # happened to deliver last. Requires orderable payload types (no
    # maps), same constraint Spark puts on any sort key.
    ts_order = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    w = (
        Window.partitionBy("_k")
        .orderBy(ts_order, F.col("_side").asc(), F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("_r", ignorenulls=True).over(w)
    out = u.withColumn("_m", matched).where(F.col("_side") == 1)
    if tolerance_seconds is not None:
        gap = F.abs(
            F.col("_t").cast("double") - F.col("_m._ts").cast("double")
        )
        out = out.withColumn(
            "_m", F.when(gap <= F.lit(float(tolerance_seconds)), F.col("_m"))
        )
    sel = [F.col(c) for c in left.columns]
    sel.append(F.col("_m._ts").alias(f"{rts}{suffix}"))
    sel.extend(F.col(f"_m.{c}").alias(f"{c}{suffix}") for c in payload)
    return out.select(*sel)


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    point_ts: str,
    on: str | None = None,
    bucket_seconds: float = 600.0,
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Range join (interval x point containment), bucketized: every
    point with ``start <= ts <= end`` (and equal ``on`` key when given)
    joins its containing intervals. Output = interval columns + point
    columns (names must be disjoint).

    Plan: intervals explode to the fixed-width time buckets they cover,
    points map to their single bucket, and the containment test runs
    after a plain equi-join on (key, bucket) — the bin-packed range-join
    strategy production engines use. A point lands in exactly ONE
    bucket, so no dedup step is needed. The theta-join alternative
    (``p.ts BETWEEN i.start AND i.end``) is a nested-loop cartesian per
    key — quadratic and unusable at 100 TB.

    Tuning: ``bucket_seconds`` should sit near the median interval
    length — too small explodes the interval side (rows multiply by
    ``len/bucket``), too large degrades the join to per-key cartesian
    within a bucket. ``max_buckets_per_interval`` fails fast when an
    interval would explode pathologically (e.g. an open-ended interval
    against a 1-second bucket).
    """
    b = float(bucket_seconds)
    lo = F.floor(F.col(start_col).cast("double") / b).cast("long")
    hi = F.floor(F.col(end_col).cast("double") / b).cast("long")
    # assert_true returns NULL on success; wiring it INTO the explode
    # argument (rather than a separate column) keeps column pruning from
    # optimizing the guard away.
    guard = F.assert_true(
        hi - lo < max_buckets_per_interval,
        f"interval spans more than {max_buckets_per_interval} buckets "
        f"of {b:.0f}s; raise bucket_seconds or split the interval",
    )
    ib = intervals.withColumn(
        "_bucket", F.explode(F.when(guard.isNull(), F.sequence(lo, hi)))
    )
    pb = points.withColumn(
        "_bucket", F.floor(F.col(point_ts).cast("double") / b).cast("long")
    )
    join_keys = ["_bucket"] if on is None else ["_bucket", on]
    return (
        ib.join(pb, join_keys, "inner")
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bucket")
    )
