"""Spark-level tests for spatial operators not fully covered by oracles:
geometric running difference (T1), subdivide child-id contract (G8),
strict-cast error path (G2), layer clustering key (A4-geo)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import kernels as K
from terra_bonobo_nodes_spark.geo import wkb as W
from tests.conftest import _random_shapes
from terra_bonobo_nodes_spark.operators.spatial import (
    attributes_to_point_geometry,
    isochrone_subtraction,
    layer_clusters_geo,
    subdivide_geom,
)


def _square_wkt(r: float) -> str:
    return f"POLYGON (({-r} {-r}, {r} {-r}, {r} {r}, {-r} {r}, {-r} {-r}))"


def test_isochrone_subtraction_rings(spark):
    rows = [("u1", 1, _square_wkt(1.0)), ("u1", 2, _square_wkt(2.0)), ("u1", 3, _square_wkt(3.0))]
    df = spark.createDataFrame(rows, ["user_id", "bucket", "wkt"]).withColumn(
        "geom", K.st_geomfromtext(F.col("wkt"))
    )
    out = isochrone_subtraction(df, ["user_id"], ["bucket"])
    areas = {
        r["bucket"]: a
        for r in out.select("bucket", K.st_area("geom").alias("a")).collect()
        for a in [r["a"]]
    }
    # bucket1 kept whole (4), bucket2 = 16-4 = 12, bucket3 = 36-16 = 20
    assert areas == {1: pytest.approx(4.0), 2: pytest.approx(12.0), 3: pytest.approx(20.0)}


def test_subdivide_child_ids(spark):
    import math

    n = 32
    ring = ", ".join(
        f"{10 * math.cos(2 * math.pi * i / n)} {10 * math.sin(2 * math.pi * i / n)}"
        for i in range(n)
    )
    first = f"{10 * math.cos(0)} {10 * math.sin(0)}"
    df = spark.createDataFrame([("g1", f"POLYGON (({ring}, {first}))")], ["identifier", "wkt"])
    df = df.withColumn("geom", K.st_geomfromtext(F.col("wkt"))).drop("wkt")
    parts = subdivide_geom(df, max_vertices=12)
    ids = [r["identifier"] for r in parts.select("identifier").collect()]
    assert len(ids) > 1
    assert all(i.startswith("g1-") for i in ids)
    assert len(set(ids)) == len(ids)  # child ids unique


def test_attributes_to_point_strict_raises(spark):
    df = spark.createDataFrame([("a", "1.5", "2.5"), ("b", "attribute_1", "0")], ["id", "x", "y"])
    out = attributes_to_point_geometry(df, "x", "y", strict=True)
    with pytest.raises(Exception, match="cast"):
        out.collect()
    lax = attributes_to_point_geometry(df, "x", "y", strict=False)
    rows = {r["id"]: r["geom"] for r in lax.collect()}
    assert W.is_empty(W.parse_wkb(rows["b"]))  # null x -> POINT EMPTY
    assert W.parse_wkb(rows["a"]) == ("Point", (1.5, 2.5))


def test_layer_clusters_geo_key(spark):
    rows = [("a", 4.0, 6.0), ("b", 6.0, 4.0), ("c", 2.0, 4.0)]
    df = spark.createDataFrame(rows, ["identifier", "x", "y"]).withColumn(
        "geom", K.st_point("x", "y")
    )
    out = layer_clusters_geo(df, distance=2.0)
    clusters = {r["cluster"]: r["ids"] for r in out.collect()}
    # reference fixture (test_terra.py:28-42): grid 2 -> (4,6) alone; (6,4) alone; (2,4) alone
    assert clusters == {
        "POINT (4 6)": ["a"],
        "POINT (6 4)": ["b"],
        "POINT (2 4)": ["c"],
    }


def test_union_on_property_dissolve(spark):
    """dissolve=True counts overlaps once; default collect double-counts."""
    import pandas as pd

    from terra_bonobo_nodes_spark.geo import kernels as K
    from terra_bonobo_nodes_spark.operators.spatial import union_on_property

    def wkb_rect(x0, y0, x1, y1):
        from terra_bonobo_nodes_spark.geo import wkb as W

        return W.write_wkb(
            ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
        )

    rows = [
        ("a", wkb_rect(0, 0, 2, 2)),
        ("a", wkb_rect(1, 1, 3, 3)),
        ("b", wkb_rect(0, 0, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "grp string, geom binary")
    dissolved = union_on_property(df, "grp", dissolve=True)
    got = {
        r.grp: r.area
        for r in dissolved.select(
            "grp", K.st_area("geom").alias("area")
        ).collect()
    }
    assert abs(got["a"] - 7.0) < 1e-9  # 4 + 4 - 1 overlap
    assert abs(got["b"] - 1.0) < 1e-9
    collected = union_on_property(df, "grp")
    got_c = {
        r.grp: r.area
        for r in collected.select("grp", K.st_area("geom").alias("area")).collect()
    }
    assert abs(got_c["a"] - 8.0) < 1e-9  # collect counts the overlap twice


def test_intersection_percent_dissolve_overlapping_layer(spark):
    """With an OVERLAPPING layer, the disjoint-assumption sum exceeds
    100%; dissolve=True unions the clipped zones and stays exact."""
    from terra_bonobo_nodes_spark.geo import wkb as W
    from terra_bonobo_nodes_spark.operators.spatial import (
        intersection_percent_by_area,
    )

    def wkb_rect(x0, y0, x1, y1):
        return W.write_wkb(
            ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
        )

    rec = spark.createDataFrame(
        [("r1", wkb_rect(0, 0, 2, 2))], "identifier string, geom binary"
    )
    # two tiles covering the record completely, overlapping each other
    lay = spark.createDataFrame(
        [(wkb_rect(-1, -1, 1.5, 3),), (wkb_rect(0.5, -1, 3, 3),)],
        "layer_geom binary",
    )
    naive = intersection_percent_by_area(rec, lay).collect()[0]
    assert naive.intersection_percent > 1.0 + 1e-9  # double-counted strip
    exact = intersection_percent_by_area(rec, lay, dissolve=True).collect()[0]
    assert abs(exact.intersection_percent - 1.0) < 1e-9


@pytest.mark.parametrize("cell", [4.0, 40.0])
def test_grid_strategy_equals_broadcast(spark, cell):
    """The grid plan (``cell=``) must give byte-identical answers to the
    broadcast plan for J1/J2/J3 — including cell sizes smaller and
    larger than the typical envelope (replication >1 cell vs everything
    in few cells). The reporting-cell dedup is the logic under test."""
    from terra_bonobo_nodes_spark.operators.spatial import (
        boolean_intersect,
        intersection_geom,
        intersection_percent_by_area,
    )

    recs = spark.createDataFrame(
        [(f"r{i}", g) for i, g in enumerate(_random_shapes(7, 120, "mixed"))],
        "identifier string, geom binary",
    )
    lay = spark.createDataFrame(
        [(g,) for g in _random_shapes(99, 40, "mixed")], "layer_geom binary"
    )

    def by_id(df, col):
        return {r["identifier"]: r[col] for r in df.select("identifier", col).collect()}

    b1 = by_id(boolean_intersect(recs, lay, out="hit"), "hit")
    g1 = by_id(boolean_intersect(recs, lay, out="hit", cell=cell), "hit")
    assert g1 == b1 and any(b1.values()) and not all(b1.values())

    b2 = by_id(intersection_percent_by_area(recs, lay), "intersection_percent")
    g2 = by_id(
        intersection_percent_by_area(recs, lay, cell=cell),
        "intersection_percent",
    )
    assert set(g2) == set(b2)
    assert all(abs(g2[k] - b2[k]) < 1e-9 for k in b2)

    def area_col(df):
        return {
            r["identifier"]: r["a"]
            for r in df.select(
                "identifier", K.st_area(F.col("geom")).alias("a")
            ).collect()
        }

    b3 = area_col(intersection_geom(recs, lay))
    g3 = area_col(intersection_geom(recs, lay, cell=cell))
    assert set(g3) == set(b3)
    assert all(abs(g3[k] - b3[k]) < 1e-9 for k in b3)


@pytest.mark.parametrize("cell", [None, 4.0])
def test_boolean_intersect_matches_per_row_reference(spark, cell):
    """boolean_intersect against the exact per-row answer: a record is
    flagged iff ``ops.intersects`` holds for some layer geometry, a
    kernel error counting as False. Mixed rect/L-shape sides cover the
    boxy×boxy, boxy×curvy and curvy×curvy pairs; a NULL and a
    malformed WKB on each side must never match."""
    from terra_bonobo_nodes_spark.geo import ops
    from terra_bonobo_nodes_spark.operators.spatial import boolean_intersect

    bad = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\xff"  # ring cut short
    rec_geoms = [*_random_shapes(11, 60, "mixed"), None, bad]
    lay_geoms = [*_random_shapes(12, 20, "mixed"), None, bad]

    def intersects(a, b) -> bool:
        try:
            return ops.intersects(W.parse_wkb(a), W.parse_wkb(b))
        except Exception:
            return False

    want = {
        f"r{i}": any(intersects(g, lg) for lg in lay_geoms)
        for i, g in enumerate(rec_geoms)
    }
    recs = spark.createDataFrame(
        [(f"r{i}", g) for i, g in enumerate(rec_geoms)],
        "identifier string, geom binary",
    )
    lay = spark.createDataFrame([(g,) for g in lay_geoms], "layer_geom binary")
    got = dict(
        boolean_intersect(recs, lay, out="hit", cell=cell)
        .select("identifier", "hit")
        .collect()
    )
    assert got == want
    assert any(want.values()) and not all(want.values())


def test_cell_alone_plans_the_grid_join(spark):
    """Default-profile coverage of the grid plan over boxy AND curvy
    pairs: ``cell=`` alone selects it (a Generate over the cell
    sequence, no broadcast nested-loop join) and every spatial join
    answers as with ``cell=None``. The fixture has 11 envelope-
    overlapping pairs, 8 of them curvy, one a bbox hit the exact kernel
    rejects, and envelopes spanning several 4.0 cells."""
    from terra_bonobo_nodes_spark.operators.spatial import (
        boolean_intersect,
        intersection_geom,
        intersection_percent_by_area,
    )
    from terra_bonobo_nodes_spark.plans.audit import executed_plan

    recs = spark.createDataFrame(
        [(f"r{i}", g) for i, g in enumerate(_random_shapes(7, 36, "mixed"))],
        "identifier string, geom binary",
    )
    lay = spark.createDataFrame(
        [(g,) for g in _random_shapes(99, 12, "mixed")], "layer_geom binary"
    )
    ops = {
        "boolean_intersect": lambda **kw: boolean_intersect(
            recs, lay, out="v", **kw
        ),
        "intersection_percent_by_area": lambda **kw: intersection_percent_by_area(
            recs, lay, out="v", **kw
        ),
        "intersection_geom": lambda **kw: intersection_geom(
            recs, lay, **kw
        ).withColumn("v", K.st_area(F.col("geom"))),
    }
    for name, op in ops.items():
        grid = op(cell=4.0)
        plan = executed_plan(grid)
        assert "Generate" in plan and "sequence(" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        got = {r["identifier"]: r["v"] for r in grid.collect()}
        want = {r["identifier"]: r["v"] for r in op(cell=None).collect()}
        assert got == pytest.approx(want, abs=1e-9), name
        assert len(set(want.values())) > 1, name  # hits and misses both present


@pytest.fixture(scope="module")
def tiny_sides(spark):
    rect = W.write_wkb(("Polygon", [[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]]))
    return {
        "records": spark.createDataFrame([("r0", rect)], "identifier string, geom binary"),
        "layer": spark.createDataFrame([(rect,)], "layer_geom binary"),
        "left": spark.createDataFrame([(1, 0.0, 0.0)], ["lid", "lx", "ly"]),
        "right": spark.createDataFrame([(2, 1.0, 1.0)], ["rid", "rx", "ry"]),
    }


def _join_with_cell(sides, op: str, **kw):
    from terra_bonobo_nodes_spark.operators import spatial
    from terra_bonobo_nodes_spark.operators.joins import knn_join

    if op == "knn_join":
        return knn_join(
            sides["left"], sides["right"], ("lx", "ly"), ("rx", "ry"), "lid", k=1, **kw
        )
    extra = {"out": "v"} if op == "boolean_intersect" else {}
    return getattr(spatial, op)(sides["records"], sides["layer"], **extra, **kw)


@pytest.mark.parametrize("cell", [0.0, -1.0, float("nan"), float("inf")])
@pytest.mark.parametrize(
    "op",
    ["boolean_intersect", "intersection_percent_by_area", "intersection_geom", "knn_join"],
)
def test_bad_cell_raises(tiny_sides, op, cell):
    """A cell that is not finite and > 0 fails at plan construction
    instead of returning no rows, falling back to another size, or
    reaching the SQL text as ``nanD``/``infD``."""
    kw = {"max_distance": 10.0} if op == "knn_join" else {}
    with pytest.raises(ValueError, match="cell"):
        _join_with_cell(tiny_sides, op, cell=cell, **kw)


def test_knn_join_cell_needs_max_distance(tiny_sides):
    """The kNN grid plan derives its neighborhood from max_distance, so
    a cell without one raises; with one it answers like the broadcast
    plan."""
    with pytest.raises(ValueError, match="cell"):
        _join_with_cell(tiny_sides, "knn_join", cell=5.0)
    grid = _join_with_cell(tiny_sides, "knn_join", cell=5.0, max_distance=10.0)
    bcast = _join_with_cell(tiny_sides, "knn_join", max_distance=10.0)
    assert grid.collect() == bcast.collect() and grid.count() == 1


# --- as-of join -------------------------------------------------------------


def _asof_fixture(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [
            (1, "a", dt(2024, 1, 1, 10, 0, 0)),
            (2, "a", dt(2024, 1, 1, 12, 0, 0)),
            (3, "b", dt(2024, 1, 1, 11, 0, 0)),
            (4, "c", dt(2024, 1, 1, 9, 0, 0)),  # key with no right rows
        ],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [
            (10, "a", dt(2024, 1, 1, 9, 30, 0)),
            (11, "a", dt(2024, 1, 1, 12, 0, 0)),  # equal-ts with lid=2
            (12, "b", dt(2024, 1, 1, 11, 30, 0)),  # after lid=3
        ],
        ["rid", "k", "ts"],
    )
    return left, right


def test_asof_join_backward_inclusive(spark):
    from terra_bonobo_nodes_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r.lid: r.rid_asof
        for r in asof_join(left, right, on="k", left_ts="ts").collect()
    }
    assert got == {1: 10, 2: 11, 3: None, 4: None}
    # lid=2: equal timestamp matches (inclusive, DuckDB/pandas semantics)


def test_asof_join_forward(spark):
    from terra_bonobo_nodes_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r.lid: r.rid_asof
        for r in asof_join(
            left, right, on="k", left_ts="ts", direction="forward"
        ).collect()
    }
    assert got == {1: 11, 2: 11, 3: 12, 4: None}


def test_asof_join_tolerance(spark):
    from terra_bonobo_nodes_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r.lid: r.rid_asof
        for r in asof_join(
            left, right, on="k", left_ts="ts", tolerance_seconds=35 * 60
        ).collect()
    }
    # lid=1 matched rid=10 at 30min gap (within 35min); lid=2 exact match
    assert got == {1: 10, 2: 11, 3: None, 4: None}
    strict = {
        r.lid: r.rid_asof
        for r in asof_join(
            left, right, on="k", left_ts="ts", tolerance_seconds=60
        ).collect()
    }
    assert strict == {1: None, 2: 11, 3: None, 4: None}


def test_asof_join_single_shuffle_plan(spark):
    """The as-of plan must be one Exchange on the key (union -> window),
    never a theta-join: assert no CartesianProduct / BroadcastNestedLoop
    and exactly one hashpartitioning exchange."""
    from terra_bonobo_nodes_spark.operators.joins import asof_join

    left, right = _asof_fixture(spark)
    plan = asof_join(left, right, on="k", left_ts="ts")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


# --- bucketized range join --------------------------------------------------


def test_interval_point_join_matches_naive(spark):
    import random

    from terra_bonobo_nodes_spark.operators.joins import interval_point_join

    rnd = random.Random(42)
    intervals = [
        (i, rnd.randrange(3), float(s := rnd.randrange(0, 5000)), float(s + rnd.randrange(1, 900)))
        for i in range(120)
    ]
    points = [
        (j, rnd.randrange(3), float(rnd.randrange(0, 6000))) for j in range(300)
    ]
    idf = spark.createDataFrame(intervals, ["iid", "k", "t0", "t1"])
    pdf = spark.createDataFrame(points, ["pid", "k", "tp"])
    got = {
        (r.iid, r.pid)
        for r in interval_point_join(
            idf, pdf, "t0", "t1", "tp", on="k", bucket_seconds=250.0
        ).collect()
    }
    want = {
        (i, j)
        for (i, k1, t0, t1) in intervals
        for (j, k2, tp) in points
        if k1 == k2 and t0 <= tp <= t1
    }
    assert got == want and len(want) > 100


def test_interval_point_join_boundaries_inclusive(spark):
    from terra_bonobo_nodes_spark.operators.joins import interval_point_join

    idf = spark.createDataFrame([(1, 10.0, 20.0)], ["iid", "t0", "t1"])
    pdf = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 9.999), (4, 20.001)], ["pid", "tp"]
    )
    got = sorted(
        r.pid
        for r in interval_point_join(idf, pdf, "t0", "t1", "tp", bucket_seconds=5.0).collect()
    )
    assert got == [1, 2]


def test_interval_point_join_bucket_explosion_guard(spark):
    import pytest as _pytest

    from terra_bonobo_nodes_spark.operators.joins import interval_point_join

    idf = spark.createDataFrame([(1, 0.0, 1e9)], ["iid", "t0", "t1"])
    pdf = spark.createDataFrame([(1, 5.0)], ["pid", "tp"])
    with _pytest.raises(Exception, match="buckets"):
        interval_point_join(
            idf, pdf, "t0", "t1", "tp", bucket_seconds=1.0, max_buckets_per_interval=100
        ).collect()


def test_interval_point_join_no_cartesian_plan(spark):
    from terra_bonobo_nodes_spark.operators.joins import interval_point_join

    idf = spark.createDataFrame([(1, 0, 10.0, 20.0)], ["iid", "k", "t0", "t1"])
    pdf = spark.createDataFrame([(1, 0, 15.0)], ["pid", "k", "tp"])
    plan = (
        interval_point_join(idf, pdf, "t0", "t1", "tp", on="k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- Z-order layout ----------------------------------------------------------


def test_zorder_layout_partitions_are_sorted_disjoint_ranges(spark):
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.operators.layout import zorder_layout

    df = spark.range(2000).select(
        (F.col("id") % 61).alias("x"), ((F.col("id") * 7) % 53).alias("y")
    )
    laid = zorder_layout(df, F.col("x"), F.col("y"), n_partitions=8)

    def per_part(it):
        import pandas as pd

        for pdf in it:
            if len(pdf):
                zs = pdf["z"].tolist()
                yield pd.DataFrame(
                    {
                        "lo": [min(zs)],
                        "hi": [max(zs)],
                        "is_sorted": [zs == sorted(zs)],
                    }
                )

    parts = laid.select("z").mapInPandas(per_part, "lo long, hi long, is_sorted boolean").collect()
    assert parts and all(p.is_sorted for p in parts)
    spans = sorted((p.lo, p.hi) for p in parts)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2, "range partitions overlap"  # disjoint min/max stats


# --- per-pair routing in intersection_percent_by_area -----------------------
# A pair whose two sides are boxy gets its zone as the bbox-intersection
# rect, built in codegen; every other pair goes through the exact
# kernels on NULL-masked args. Under dissolve a record whose zones are
# all rects is measured by ops.rect_union_area, so no WKB reaches Python
# for it; a record with any other pair is measured against its rects
# and features in one ops.covered_area sweep.


def test_rect_union_area_matches_overlay_union():
    """The 4-number sweep must agree with the independent polygon
    overlay (area of ops.union_dissolve) on random rect soups —
    overlapping, nested, touching, degenerate."""
    import random

    from terra_bonobo_nodes_spark.geo import ops

    def rect_poly(x0, y0, x1, y1):
        return ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])

    rng = random.Random(71)
    for _ in range(60):
        rects = []
        for _ in range(rng.randint(0, 7)):
            x0, y0 = rng.randint(0, 9), rng.randint(0, 9)
            rects.append(
                (
                    float(x0),
                    float(y0),
                    float(x0 + rng.randint(0, 4)),  # may be degenerate
                    float(y0 + rng.randint(0, 4)),
                )
            )
        got = ops.rect_union_area(
            [r[0] for r in rects],
            [r[1] for r in rects],
            [r[2] for r in rects],
            [r[3] for r in rects],
        )
        want = ops.area(
            ops.union_dissolve(
                [rect_poly(*r) for r in rects if r[2] > r[0] and r[3] > r[1]]
            )
        )
        assert abs(got - want) < 1e-9


def test_dissolve_rect_fast_routing_parity(spark):
    """Three layouts must agree exactly with the kernel path: an
    all-boxy layer (every pair on the rect lane), a curvy layer feature
    among boxy ones (a boxy record unions rects and a kernel zone), and
    a curvy RECORD among boxy ones (its pairs all take the kernel
    path). The ground truth for each is the kernel path, forced
    through the prepared-geometry contract by handing in records whose
    prep says boxy=False."""
    from terra_bonobo_nodes_spark.geo import wkb as W
    from terra_bonobo_nodes_spark.operators.spatial import (
        intersection_percent_by_area,
    )

    def wkb_rect(x0, y0, x1, y1):
        return W.write_wkb(
            ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
        )

    tri = W.write_wkb(("Polygon", [[(0.0, 0.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]]))
    boxy_rec = [(f"r{i}", wkb_rect(i * 0.5, 0, i * 0.5 + 2, 2)) for i in range(6)]
    lay_rects = [(wkb_rect(-1, -1, 1.5, 3),), (wkb_rect(0.5, -1, 3, 3),)]

    def vals(rec_rows, lay_rows, rect_fast):
        rec = spark.createDataFrame(rec_rows, "identifier string, geom binary")
        if not rect_fast:
            rec = rec.withColumn(
                "geom", K.st_prepare("geom").withField("boxy", F.lit(False))
            )
        lay = spark.createDataFrame(lay_rows, "layer_geom binary")
        out = intersection_percent_by_area(rec, lay, dissolve=True)
        return dict(out.select("identifier", "intersection_percent").collect())

    for rec_rows, lay_rows in [
        (boxy_rec, lay_rects),  # rect lane only
        (boxy_rec, lay_rects + [(tri,)]),  # rects and zones in one union
        (boxy_rec + [("tri", tri)], lay_rects),  # a curvy record
    ]:
        fast = vals(rec_rows, lay_rows, True)
        truth = vals(rec_rows, lay_rows, False)
        assert set(fast) == set(truth)
        for k in truth:
            assert abs(fast[k] - truth[k]) < 1e-12, (k, fast[k], truth[k])
        # overlapping tiles: the union must never exceed 100%
        assert all(v <= 1.0 + 1e-9 for v in fast.values())


@pytest.mark.parametrize("cell", [None, 4.0])
@pytest.mark.parametrize("dissolve", [False, True])
def test_per_pair_routing_matches_the_kernel_path(spark, dissolve, cell):
    """Natural routing (boxy pairs closed-form in codegen, the rest
    through the exact kernels) must agree with the kernel path, forced
    by records whose prep says boxy=False. Seeded rect records meet a
    mixed rect/L-shape layer, so most records have candidates of both
    kinds. Under dissolve the records are mixed too, a density whose
    unioned zones once failed the whole query (records r12 here), and
    every record must also match ops.covered_area of the whole layer,
    computed in plain Python."""
    from terra_bonobo_nodes_spark.geo import ops
    from terra_bonobo_nodes_spark.operators.spatial import (
        intersection_percent_by_area,
    )

    rec_geoms = _random_shapes(31, 60, "mixed" if dissolve else "rects")
    lay_geoms = _random_shapes(32, 40, "mixed")
    # the case per-pair routing creates: a boxy record whose envelope
    # overlaps a boxy and a curvy layer feature
    shapes = [W.parse_wkb(g) for g in lay_geoms]

    def overlaps(a, b):
        ba, bb = ops.bbox(a), ops.bbox(b)
        return ba[0] <= bb[2] and bb[0] <= ba[2] and ba[1] <= bb[3] and bb[1] <= ba[3]

    kinds = [
        {ops.as_axis_rect(lg) is not None for lg in shapes if overlaps(g, lg)}
        for g in map(W.parse_wkb, rec_geoms)
    ]
    assert sum(k == {True, False} for k in kinds) >= 10

    rec = spark.createDataFrame(
        [(f"r{i}", g) for i, g in enumerate(rec_geoms)],
        "identifier string, geom binary",
    )
    lay = spark.createDataFrame([(g,) for g in lay_geoms], "layer_geom binary")

    def vals(r):
        out = intersection_percent_by_area(r, lay, dissolve=dissolve, cell=cell)
        return dict(out.select("identifier", "intersection_percent").collect())

    natural = vals(rec)
    forced = vals(
        rec.withColumn("geom", K.st_prepare("geom").withField("boxy", F.lit(False)))
    )
    assert natural.keys() == forced.keys() == {f"r{i}" for i in range(60)}
    assert sum(v > 0 for v in natural.values()) >= 20
    for k in forced:
        assert abs(natural[k] - forced[k]) < 1e-9, (k, natural[k], forced[k])
    if dissolve:
        for i, g in enumerate(map(W.parse_wkb, rec_geoms)):
            g = ops.make_valid(g)
            want = ops.covered_area(g, shapes) / ops.area(g)
            assert abs(natural[f"r{i}"] - want) < 1e-9, (i, natural[f"r{i}"], want)


def test_dissolve_rect_fast_plan_carries_the_sweep_agg(spark):
    """The all-boxy dissolve plan must contain the covered-area kernel
    (whose no-WKB lane is the rect sweep): JVM collect_list feeding the
    batched SCALAR kernel (_st_covered_area_lists — one Python call per
    Arrow batch)."""
    from terra_bonobo_nodes_spark.geo import wkb as W
    from terra_bonobo_nodes_spark.operators.spatial import (
        intersection_percent_by_area,
    )

    def wkb_rect(x0, y0, x1, y1):
        return W.write_wkb(
            ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
        )

    rec = spark.createDataFrame(
        [("r1", wkb_rect(0, 0, 2, 2))], "identifier string, geom binary"
    )
    lay = spark.createDataFrame([(wkb_rect(1, 1, 3, 3),)], "layer_geom binary")
    plan = (
        intersection_percent_by_area(rec, lay, dissolve=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "_st_covered_area_lists" in plan
    assert "collect_list" in plan


# --- prepared-geometry contract ---------------------------------------------
# record_geom/layer_geom name a WKB column or a K.PREPARED_T column;
# anything else raises, and no other column of the caller's frame is read.


def _rect_wkb(x0, y0, x1, y1):
    return W.write_wkb(
        ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
    )


def _join_answer(op: str, rec, lay, **kw) -> dict:
    """identifier -> the operator's answer: hit flag, covered ratio or
    clipped area."""
    from terra_bonobo_nodes_spark.operators.spatial import (
        boolean_intersect,
        intersection_geom,
        intersection_percent_by_area,
    )

    if op == "boolean_intersect":
        out = boolean_intersect(rec, lay, out="v", **kw)
    elif op == "intersection_percent_by_area":
        out = intersection_percent_by_area(rec, lay, out="v", **kw)
    else:
        out = intersection_geom(rec, lay, geom_dest="zone", **kw).withColumn(
            "v", K.st_area("zone")
        )
    return dict(out.select("identifier", "v").collect())


_JOIN_OPS = ["boolean_intersect", "intersection_percent_by_area", "intersection_geom"]
# the record (0,0)-(2,2) against the layer tile (1,1)-(3,3)
_OVERLAP = {
    "boolean_intersect": True,
    "intersection_percent_by_area": 0.25,
    "intersection_geom": 1.0,
}
_MISS = {
    "boolean_intersect": False,
    "intersection_percent_by_area": 0.0,
    "intersection_geom": 0.0,
}


@pytest.fixture
def contract_frames(spark):
    rec = spark.createDataFrame(
        [("a", _rect_wkb(0, 0, 2, 2), _rect_wkb(50, 50, 52, 52))],
        "identifier string, geom binary, far binary",
    )
    lay = spark.createDataFrame([(_rect_wkb(1, 1, 3, 3),)], "layer_geom binary")
    return rec, lay


@pytest.mark.parametrize("op", _JOIN_OPS)
@pytest.mark.parametrize("side", ["record", "layer"])
@pytest.mark.parametrize(
    "bad",
    [
        "wrong_struct",  # st_bbox_boxy's struct lacks geom/area
        "float_area",  # PREPARED_T's field names, one field of another type
        "wkt_string",  # neither binary nor struct
    ],
)
def test_join_rejects_non_prepared_geometry_column(contract_frames, op, side, bad):
    rec, lay = contract_frames
    col = "geom" if side == "record" else "layer_geom"
    g2 = {
        "wrong_struct": K.st_bbox_boxy(col),
        "float_area": K.st_prepare(col).withField("area", F.lit(0.0).cast("float")),
        "wkt_string": K.st_astext(col),
    }[bad]
    if side == "record":
        rec, kw = rec.withColumn("g2", g2), {"record_geom": "g2"}
    else:
        lay, kw = lay.withColumn("g2", g2), {"layer_geom": "g2"}
    with pytest.raises(ValueError, match="'g2'"):
        _join_answer(op, rec, lay, **kw)


@pytest.mark.parametrize("op", _JOIN_OPS)
def test_join_ignores_caller_columns_named_like_internal_aliases(
    contract_frames, op
):
    rec, lay = contract_frames
    rec = rec.withColumn("_rx", F.lit("caller data"))
    lay = lay.withColumn("_lx", F.lit(7))
    assert _join_answer(op, rec, lay) == {"a": _OVERLAP[op]}
    # the caller's column rides through the join untouched
    from terra_bonobo_nodes_spark.operators.spatial import boolean_intersect

    kept = boolean_intersect(rec, lay, out="v").select("_rx").collect()
    assert [r["_rx"] for r in kept] == ["caller data"]


@pytest.mark.parametrize("op", _JOIN_OPS)
def test_join_reads_the_named_geometry_column(contract_frames, op):
    """A frame with two geometry columns — a prepared one that overlaps
    the layer and a WKB one that does not — answers for the column
    record_geom names, whatever the other is called."""
    rec, lay = contract_frames
    rec = rec.withColumn("_rx", K.st_prepare("geom"))
    assert _join_answer(op, rec, lay, record_geom="far") == {"a": _MISS[op]}
    assert _join_answer(op, rec, lay, record_geom="_rx") == {"a": _OVERLAP[op]}
    # a prepared layer column is used as-is too
    lay = lay.withColumn("tile", K.st_prepare("layer_geom"))
    assert _join_answer(op, rec, lay, layer_geom="tile") == {"a": _OVERLAP[op]}


def test_j2_overlay_surface_plan_shape(spark):
    """Three overlay strategies on one registered headline row: no
    cartesian pair generation (envelope/grid candidates only), no
    row-at-a-time Python, and both customer scans prune to their used
    columns."""
    import contextlib
    import io

    from terra_bonobo_nodes_spark.plans.queries_candidates import (
        j2_overlay_surface,
    )
    from terra_bonobo_nodes_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    assert all_queries()["j2_overlay_surface"].headline

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j2_overlay_surface(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan
    assert "struct<c_custkey:bigint,c_acctbal:double>" in plan
    assert "struct<c_custkey:bigint>" in plan
