"""Grid clustering + per-cluster collect/sum aggregation.

Capability parity:
- ``LayerClusters`` (reference ``terra_bonobo_nodes/terra.py:27-68``):
  PostGIS ``GROUP BY ST_SnapToGrid(ST_Transform(geom, srid), distance)``
  with ``array_agg(id)`` per cell. Here the snap-to-grid key is computed
  as ``(floor(x/d), floor(y/d))`` Column expressions — one hash-aggregate
  job, no per-cluster round trips.
- ``CollectAndSum`` (reference ``terra_bonobo_nodes/common.py:235-266``):
  per-cluster ``Collect(geom)``, ``ArrayAgg(id, distinct)``, ``Count(id)``
  and per-field ``Sum(cast(properties->>f as float))``. The reference runs
  one SQL query *per cluster* (an N+1); here it is a single
  ``groupBy().agg()`` with map-side partial aggregation.

Scale notes (100 TB): the only shuffle is the hash aggregation on the
cell key. Cell keys are low-cardinality relative to rows, so partial
aggregation collapses almost all data map-side before the exchange. If a
cell is pathologically hot, AQE skew handling or salting the cell key
(``cell_salt = pmod(hash(id), k)`` pre-agg, then a second agg) applies —
``collect_and_sum``'s aggregates (count/sum/collect_set) are all
re-aggregable. Avoid ``collect_set(id)`` at extreme cardinality; prefer
``count_distinct`` or a sketch (``approx_count_distinct``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grid_cluster(
    df: DataFrame,
    x: str | Column,
    y: str | Column,
    distance: float,
    cell_x: str = "cell_x",
    cell_y: str = "cell_y",
) -> DataFrame:
    """Attach snap-to-grid cell keys: ``cell = floor(coord / distance)``.

    Equivalent to PostGIS ``ST_SnapToGrid(geom, distance)`` as a grouping
    key (reference ``terra.py:54-64``) — the snapped corner is
    ``cell * distance``, kept as integral cell indices so the key is
    exact (no float-equality grouping hazards).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    return df.withColumn(cell_x, F.floor(xc / F.lit(distance)).cast("long")).withColumn(
        cell_y, F.floor(yc / F.lit(distance)).cast("long")
    )


def collect_and_sum(
    df: DataFrame,
    cluster_cols: Sequence[str],
    id_col: str,
    sum_fields: Mapping[str, str] | Sequence[str] = (),
    collect_ids: bool = False,
    exact: bool = True,
) -> DataFrame:
    """Per-cluster aggregate: count, distinct-id count, per-field sums.

    ``sum_fields`` maps source column -> output alias (or a sequence, in
    which case the alias is ``sum_<col>``). Sums cast to double first,
    mirroring the reference's ``Cast(KeyTextTransform(...), FloatField)``
    (``common.py:257-263``).

    ``collect_ids=True`` adds ``ids = sort_array(collect_set(id))`` —
    the reference's ``ArrayAgg(id, distinct=True)`` (``common.py:254``),
    sorted so output is deterministic. Off by default: at 100 TB an
    unbounded per-group array is a driver/executor OOM risk; prefer the
    distinct count unless the array is genuinely needed.

    ``exact=True`` (default) accumulates sums as DECIMAL(20,6) and casts
    the result back to double: bit-deterministic regardless of partial-
    aggregation order, at ~no cost (decimal sums are JVM long math).
    """
    if not isinstance(sum_fields, Mapping):
        sum_fields = {c: f"sum_{c}" for c in sum_fields}
    aggs = [
        F.count(F.lit(1)).alias("point_count"),
        F.countDistinct(F.col(id_col)).alias("n_ids"),
    ]
    if collect_ids:
        aggs.append(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
    for c, alias in sum_fields.items():
        if exact:
            aggs.append(
                F.sum(F.col(c).cast("decimal(20,6)")).cast("double").alias(alias)
            )
        else:
            aggs.append(F.sum(F.col(c).cast("double")).alias(alias))
    return df.groupBy(*[F.col(c) for c in cluster_cols]).agg(*aggs)
