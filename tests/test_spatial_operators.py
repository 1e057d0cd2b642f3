"""Spark-level tests for spatial operators not fully covered by oracles:
geometric running difference (T1), subdivide child-id contract (G8),
strict-cast error path (G2), layer clustering key (A4-geo)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import kernels as K
from terra_bonobo_nodes_spark.geo import wkb as W
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


def test_knn_join_cartesian_footgun_raises(spark):
    """broadcast_right=False with no max_distance is an unbounded
    shuffled cartesian product — the guard must refuse it before any
    job runs (operators/joins.py)."""
    from terra_bonobo_nodes_spark.operators.joins import knn_join

    left = spark.createDataFrame([(1, 0.0, 0.0)], ["lid", "lx", "ly"])
    right = spark.createDataFrame([(2, 1.0, 1.0)], ["rid", "rx", "ry"])
    with pytest.raises(ValueError, match="cartesian"):
        knn_join(
            left, right, ("lx", "ly"), ("rx", "ry"), "lid", k=1,
            broadcast_right=False,
        )
    # bounded big-big form is accepted
    out = knn_join(
        left, right, ("lx", "ly"), ("rx", "ry"), "lid", k=1,
        max_distance=10.0, broadcast_right=False,
    )
    assert out.count() == 1


def _random_shapes(seed: int, n: int, kind: str):
    """Deterministic mixed rect/L-shape WKB geometries in [0,100)²;
    L-shapes force the curvy kernel path, rects stay boxy."""
    import random

    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        x0 = rnd.uniform(0, 90)
        y0 = rnd.uniform(0, 90)
        w = rnd.uniform(0.5, 15.0)
        h = rnd.uniform(0.5, 15.0)
        if kind == "mixed" and i % 3 == 0:
            # L-shape: the full rect minus its top-right quadrant
            ring = [
                (x0, y0), (x0 + w, y0), (x0 + w, y0 + h / 2),
                (x0 + w / 2, y0 + h / 2), (x0 + w / 2, y0 + h),
                (x0, y0 + h), (x0, y0),
            ]
        else:
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
        rows.append(W.write_wkb(("Polygon", [ring])))
    return rows


@pytest.mark.parametrize("cell", [4.0, 40.0])
def test_grid_strategy_equals_broadcast(spark, cell):
    """strategy='grid' must give byte-identical answers to the broadcast
    plan for J1/J2/J3 — including cell sizes smaller and larger than the
    typical envelope (replication >1 cell vs everything in few cells).
    The reporting-cell dedup is the logic under test."""
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
    g1 = by_id(boolean_intersect(recs, lay, out="hit", strategy="grid", cell=cell), "hit")
    assert g1 == b1 and any(b1.values()) and not all(b1.values())

    b2 = by_id(intersection_percent_by_area(recs, lay), "intersection_percent")
    g2 = by_id(
        intersection_percent_by_area(recs, lay, strategy="grid", cell=cell),
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
    g3 = area_col(intersection_geom(recs, lay, strategy="grid", cell=cell))
    assert set(g3) == set(b3)
    assert all(abs(g3[k] - b3[k]) < 1e-9 for k in b3)


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


def test_morton_code_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.operators.clustering import morton_code

    def ref(x, y, bits=16):
        z = 0
        for i in range(bits):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(x, y) for x in (0, 1, 3, 5, 255, 511) for y in (0, 2, 5, 170, 511)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", morton_code(F.col("x"), F.col("y"), 16)).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == ref(x, y), (x, y)
    assert got[(3, 5)] == 39  # worked example: x=011, y=101 interleave


def test_zorder_layout_partitions_are_sorted_disjoint_ranges(spark):
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.operators.clustering import zorder_layout

    df = spark.range(2000).select(
        (F.col("id") % 61).alias("x"), ((F.col("id") * 7) % 53).alias("y")
    )
    laid = zorder_layout(df, F.col("x"), F.col("y"), bits=8, n_partitions=8)

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


class TestKdbStrategy:
    """strategy='kdb': quantile-partitioned big-big spatial join —
    equal-count leaves by construction, so skew that starves the
    uniform grid cannot starve this plan."""

    def test_kdb_equals_broadcast_on_j1_fixture(self, spark):
        from terra_bonobo_nodes_spark.operators.spatial import boolean_intersect
        from terra_bonobo_nodes_spark.plans.queries_geo import _j1_inputs
        from tests.conftest import SF_DIR

        pts, layer = _j1_inputs(spark, SF_DIR)
        prep = dict(record_geom="prep", layer_geom="layer_prep")
        want = sorted(
            tuple(r)
            for r in boolean_intersect(pts, layer, out="z", **prep)
            .select("identifier", "z")
            .collect()
        )
        got = sorted(
            tuple(r)
            for r in boolean_intersect(pts, layer, out="z", strategy="kdb", **prep)
            .select("identifier", "z")
            .collect()
        )
        assert got == want and any(z for _, z in got)

    def test_kdb_equals_broadcast_on_clustered_skew(self, spark):
        """The case the uniform grid handles badly: 95% of features in
        one tiny cluster. Results must still match broadcast exactly,
        and the leaf assignment must spread the cluster (no leaf holds
        more than ~3x the mean load) where a 10-unit grid puts ALL
        clustered points into one cell."""
        import numpy as np

        from terra_bonobo_nodes_spark.geo import wkb as W
        from terra_bonobo_nodes_spark.geo.kernels import st_bbox_boxy
        from terra_bonobo_nodes_spark.operators.spatial import (
            _kdb_candidates,
            boolean_intersect,
        )
        from pyspark.sql import functions as F

        rng = np.random.RandomState(3)
        pts = []
        for i in range(950):  # dense cluster in [0, 1)^2
            pts.append((f"p{i}", W.write_wkb(("Point", (float(rng.rand()), float(rng.rand()))))))
        for i in range(950, 1000):  # sparse tail over [0, 100)^2
            pts.append(
                (f"p{i}", W.write_wkb(("Point", (float(rng.rand() * 100), float(rng.rand() * 100)))))
            )
        rec = spark.createDataFrame(pts, "identifier string, geom binary")
        ring = [(0.2, 0.2), (0.8, 0.2), (0.8, 0.8), (0.2, 0.8), (0.2, 0.2)]
        layer = spark.createDataFrame(
            [(W.write_wkb(("Polygon", [ring])),), (W.write_wkb(("Polygon", [[(50.0, 50.0), (60.0, 50.0), (60.0, 60.0), (50.0, 60.0), (50.0, 50.0)]])),)],
            "layer_geom binary",
        )
        want = sorted(
            tuple(r)
            for r in boolean_intersect(rec, layer, out="z").select("identifier", "z").collect()
        )
        got = sorted(
            tuple(r)
            for r in boolean_intersect(rec, layer, out="z", strategy="kdb")
            .select("identifier", "z")
            .collect()
        )
        assert got == want and sum(1 for _, z in got if z) > 300

        # leaf balance: tile the record side alone and count leaf loads
        rx = rec.withColumn("_rx", st_bbox_boxy(F.col("geom")))
        lx = layer.withColumn("_lx", st_bbox_boxy(F.col("layer_geom")))
        cand = _kdb_candidates(rx, lx, F.col("_rx.bbox"), F.col("_lx.bbox"))
        # indirect balance proof: the join completes with no single-leaf
        # blowup — assert via the tiling itself
        from terra_bonobo_nodes_spark.operators.spatial import _strip_index

        cx = (F.element_at(F.col("_rx.bbox"), 1) + F.element_at(F.col("_rx.bbox"), 3)) / 2
        # recompute x strips the way the strategy does and check spread
        xq = [i / 8 for i in range(1, 8)]
        xb = rx.select(
            F.percentile_approx(cx, F.lit(xq).cast("array<double>")).alias("b")
        ).first()["b"]
        loads = (
            rx.withColumn("_s", _strip_index(F.array(*[F.lit(float(v)) for v in xb]), cx))
            .groupBy("_s")
            .count()
            .collect()
        )
        counts = [r["count"] for r in loads]
        assert max(counts) <= 3 * (sum(counts) / len(counts)), counts
        assert cand.count() > 0

    def test_kdb_empty_record_side(self, spark):
        from terra_bonobo_nodes_spark.operators.spatial import boolean_intersect
        from terra_bonobo_nodes_spark.plans.queries_geo import _j1_inputs
        from tests.conftest import SF_DIR

        pts, layer = _j1_inputs(spark, SF_DIR)
        empty = pts.limit(0)
        out = boolean_intersect(
            empty, layer, out="z", strategy="kdb",
            record_geom="prep", layer_geom="layer_prep",
        )
        assert out.count() == 0

    def test_kdb_equals_broadcast_on_j2_and_j3(self, spark):
        """The strategy threads through every spatial join operator:
        intersection percent and intersection geometry must also be
        plan-independent."""
        from terra_bonobo_nodes_spark.operators.spatial import (
            intersection_geom,
            intersection_percent_by_area,
        )
        from terra_bonobo_nodes_spark.plans.queries_geo import (
            _customer_rects,
            _tile_layer,
        )
        from tests.conftest import SF_DIR

        from terra_bonobo_nodes_spark.geo import kernels as K
        from pyspark.sql import functions as F

        rec, lay = _customer_rects(spark, SF_DIR), _tile_layer(spark)
        prep = dict(record_geom="prep", layer_geom="layer_prep")
        # percent-by-area: scalar outputs compare directly
        base = intersection_percent_by_area(rec, lay, **prep)
        want = sorted(
            (r[0], round(r[1], 6))
            for r in base.select("identifier", "intersection_percent").collect()
        )
        got = sorted(
            (r[0], round(r[1], 6))
            for r in intersection_percent_by_area(rec, lay, strategy="kdb", **prep)
            .select("identifier", "intersection_percent")
            .collect()
        )
        assert got == want and len(got) > 0
        # intersection geometry: the SET of pieces is plan-independent
        # but multipart ordering is not — compare via area, not raw WKB
        def areas(df):  # geom_dest=None replaces the record_geom column
            return sorted(
                (r[0], round(r[1] or 0.0, 6))
                for r in df.select(
                    "identifier", K.st_area(F.col("prep")).alias("a")
                ).collect()
            )

        g_want = areas(intersection_geom(rec, lay, **prep))
        g_got = areas(intersection_geom(rec, lay, strategy="kdb", **prep))
        assert g_got == g_want and any(a > 0 for _, a in g_got)


# --- dissolve rect fast path (late r17) --------------------------------------
# When the record is boxy and every layer feature is boxy, dissolve
# zones are bbox-intersection rects built in codegen and the union
# area is ops.rect_union_area — no WKB reaches Python on that route.
# The routing splits the RECORD side before pair generation: a
# post-join filter would still feed every pair through the extracted
# st_intersects ArrowEvalPython (measured: 16s over 550k
# pruned-to-zero pairs at sf0.1).


def test_rect_union_area_matches_grid_count_union():
    """The 4-number sweep must agree with the geometry-level
    rectilinear union (ops.union_area grid counting) on random rect
    soups — overlapping, nested, touching, degenerate."""
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
        want = ops.union_area(
            rect_poly(*r) for r in rects if r[2] > r[0] and r[3] > r[1]
        )
        assert abs(got - want) < 1e-9


def test_dissolve_rect_fast_routing_parity(spark):
    """Three routings must agree exactly: all-boxy layer (every record
    on the rect path), a curvy layer feature (layer scalar flips — all
    records on the kernel path), and a curvy RECORD among boxy ones
    (record-level split, both paths live in one query). The ground
    truth for each is the kernel path, forced through the
    prepared-geometry contract by handing in records whose prep says
    boxy=False."""
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
        (boxy_rec, lay_rects),  # pure fast path
        (boxy_rec, lay_rects + [(tri,)]),  # curvy layer -> all slow
        (boxy_rec + [("tri", tri)], lay_rects),  # record-level split
    ]:
        fast = vals(rec_rows, lay_rows, True)
        truth = vals(rec_rows, lay_rows, False)
        assert set(fast) == set(truth)
        for k in truth:
            assert abs(fast[k] - truth[k]) < 1e-12, (k, fast[k], truth[k])
        # overlapping tiles: the union must never exceed 100%
        assert all(v <= 1.0 + 1e-9 for v in fast.values())


def test_dissolve_rect_fast_plan_carries_the_sweep_agg(spark):
    """The all-boxy dissolve plan must contain the rect-sweep kernel
    (the no-WKB lane exists as a physical path). Since the r17
    optimization round the lane is JVM collect_list + the batched
    SCALAR sweep kernel (_st_rect_union_area_lists — one Python call
    per Arrow batch) instead of the GROUPED_AGG form (one call per
    group); the pin follows the kernel rename and additionally pins
    the collect_list aggregation that feeds it."""
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
    assert "_st_rect_union_area_lists" in plan
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
