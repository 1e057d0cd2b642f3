"""Kernel-fusion equivalence: the vectorized/fused kernels must be
BYTE- and VALUE-identical to the per-row chains they replace.

Each Spark test drives the fused kernel and its unfused reference chain
over the same frame (edge cases included: NULLs, NaNs, unclosed rings,
consecutive duplicates, degenerate rings, mismatched array lengths)
and asserts exact equality — the correctness contract that lets the
spatial queries route through the fused forms without a hash drift.
The differential tests at the end call the kernels' pandas functions
directly (no Spark session) on hypothesis-generated batches, pitting
each vectorized fast path against its exact per-row fallback.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import kernels as K
from terra_bonobo_nodes_spark.geo import ops
from terra_bonobo_nodes_spark.geo import wkb as W


@pytest.fixture(scope="module")
def spark():
    from terra_bonobo_nodes_spark.session import get_spark

    return get_spark("test-kernel-fusion")


def _ring_frame(spark):
    """Rings exercising every fast-path class and every fallback."""
    rows = [
        # axis rect, unclosed (the _customer_rects shape)
        ([0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 3.0, 3.0]),
        # axis rect, pre-closed
        ([1.0, 2.0, 2.0, 1.0, 1.0], [1.0, 1.0, 5.0, 5.0, 1.0]),
        # concave L (the _customer_ells shape)
        ([0.0, 4.0, 4.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0, 4.0, 4.0]),
        # non-axis triangle
        ([0.0, 3.0, 1.0], [0.0, 0.5, 2.0]),
        # 5-point ring that is NOT a rect (3 distinct xs)
        ([0.0, 2.0, 3.0, 0.0], [0.0, 0.0, 2.0, 2.0]),
        # bowtie-ish 5-pointer (diagonal side -> not boxy)
        ([0.0, 2.0, 0.0, 2.0], [0.0, 0.0, 2.0, 2.0]),
        # consecutive duplicate vertex (make_valid drops it) -> fallback
        ([0.0, 0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 0.0, 3.0, 3.0]),
        # near-duplicate closure within EPS -> fallback
        ([0.0, 4.0, 4.0, 1e-13], [0.0, 0.0, 3.0, 0.0]),
        # degenerate: fewer than 3 points -> POINT EMPTY
        ([0.0, 1.0], [0.0, 0.0]),
        # mismatched lengths -> zip truncation semantics
        ([0.0, 4.0, 4.0, 0.0, 0.0], [0.0, 0.0, 3.0]),
        # NaN coordinate -> fallback parity
        ([0.0, float("nan"), 4.0], [0.0, 0.0, 3.0]),
        # NULL arrays
        (None, [0.0, 1.0, 2.0]),
        ([0.0, 1.0, 2.0], None),
        # collapsed ring (all duplicates) -> POINT EMPTY via fix_ring
        ([1.0, 1.0, 1.0, 1.0], [2.0, 2.0, 2.0, 2.0]),
    ]
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(rows)],
        "id int, xs array<double>, ys array<double>",
    )


def test_poly_prep_matches_prepare_of_make_polygon(spark):
    df = _ring_frame(spark)
    fused = df.select("id", K.st_poly_prep("xs", "ys").alias("p")).collect()
    chain = df.select(
        "id", K.st_prepare(K.st_make_polygon("xs", "ys")).alias("p")
    ).collect()
    assert len(fused) == len(chain)
    for a, b in zip(
        sorted(fused, key=lambda r: r.id), sorted(chain, key=lambda r: r.id)
    ):
        assert a.p.geom == b.p.geom, f"geom mismatch at id={a.id}"
        assert a.p.bbox == b.p.bbox, f"bbox mismatch at id={a.id}"
        assert a.p.boxy == b.p.boxy, f"boxy mismatch at id={a.id}"
        assert a.p.area == b.p.area, f"area mismatch at id={a.id}"


def test_vectorized_point_matches_per_row_wkb(spark):
    from terra_bonobo_nodes_spark.geo import wkb as W

    df = spark.createDataFrame(
        [
            (0, 3.5, -4.5),
            (1, None, 2.0),
            (2, 1.0, None),
            (3, float("nan"), 1.0),
            (4, -180.0, 85.0),
            (5, 0.0, 0.0),
        ],
        "id int, x double, y double",
    )
    got = {r.id: r.g for r in df.select("id", K.st_point("x", "y").alias("g")).collect()}
    for r in df.collect():
        bad = (
            r.x is None
            or r.y is None
            or (isinstance(r.x, float) and math.isnan(r.x))
            or (isinstance(r.y, float) and math.isnan(r.y))
        )
        want = W.write_wkb(
            W.POINT_EMPTY if bad else ("Point", (float(r.x), float(r.y)))
        )
        assert bytes(got[r.id]) == want, f"point WKB mismatch at id={r.id}"


def test_simplify_summary_matches_chain(spark):
    wkts = [
        "LINESTRING (0 0, 5 0.4, 10 -0.4, 15 0.4, 20 0)",
        "LINESTRING (0 0, 10 10)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
        "POINT (3 4)",
        None,
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkts)], "id int, wkt string"
    ).withColumn("g", K.st_geomfromtext("wkt"))
    fused = {
        r.id: (r.s.n_points, r.s.cx, r.s.cy)
        for r in df.select(
            "id", K.st_simplify_summary("g", 0.5).alias("s")
        ).collect()
    }
    simp = df.withColumn("s", K.st_simplify("g", 0.5))
    chain = {
        r.id: (r.n, r.cx, r.cy)
        for r in simp.select(
            "id",
            K.st_npoints("s").alias("n"),
            K.st_x(K.st_centroid("s")).alias("cx"),
            K.st_y(K.st_centroid("s")).alias("cy"),
        ).collect()
    }
    assert fused == chain


def test_subdivide_areas_matches_chain(spark):
    import math as _m

    # a 12-gon (the g8 fixture shape) plus a simple square and a NULL
    ring_x = [3.0 * _m.cos(2 * _m.pi * k / 12) for k in range(12)]
    ring_y = [3.0 * _m.sin(2 * _m.pi * k / 12) for k in range(12)]
    df = spark.createDataFrame(
        [(0, ring_x, ring_y), (1, [0.0, 8.0, 8.0, 0.0], [0.0, 0.0, 8.0, 8.0])],
        "id int, xs array<double>, ys array<double>",
    ).select("id", K.st_make_polygon("xs", "ys").alias("g"))
    fused = (
        df.select("id", F.posexplode(K.st_subdivide_areas("g", 8)).alias("p", "a"))
        .collect()
    )
    chain = (
        df.select(
            "id",
            F.posexplode(K.st_subdivide(K.st_makevalid("g"), 8)).alias("p", "part"),
        )
        .select("id", "p", K.st_area("part").alias("a"))
        .collect()
    )
    key = lambda r: (r.id, r.p)  # noqa: E731
    assert sorted((r.id, r.p, r.a) for r in fused) == sorted(
        (r.id, r.p, r.a) for r in chain
    )


# --- differential: vectorized fast path vs exact per-row fallback ------------

# coordinates drawn mostly from a small integer grid, so axis rects,
# consecutive duplicate vertices, closed rings and degenerate (collinear
# or collapsed) rings all come up often; plus NaN, signed zeros, sub-EPS
# offsets and very large magnitudes
_COORD = st.one_of(
    st.integers(-3, 3).map(float),
    st.sampled_from([math.nan, -0.0, 1e-13, 1e300, -1e300, 1.7e308]),
    st.floats(allow_nan=False, allow_infinity=False),
)


@st.composite
def _ring(draw):
    """One row of (xs, ys) coordinate arrays for st_poly_prep."""
    if draw(st.integers(0, 19)) == 0:
        return None, draw(st.lists(_COORD, max_size=5))
    if draw(st.booleans()):
        # axis rect, possibly with a repeated corner
        x0, x1, y0, y1 = (draw(_COORD) for _ in range(4))
        xs, ys = [x0, x1, x1, x0], [y0, y0, y1, y1]
        if draw(st.booleans()):
            k = draw(st.integers(0, 3))
            xs.insert(k, xs[k])
            ys.insert(k, ys[k])
    else:
        n = draw(st.integers(0, 8))
        xs = draw(st.lists(_COORD, min_size=n, max_size=n))
        ys = draw(st.lists(_COORD, min_size=n, max_size=n))
    if xs and draw(st.booleans()):  # pre-closed ring
        xs, ys = xs + xs[:1], ys + ys[:1]
    if draw(st.integers(0, 9)) == 0:  # mismatched lengths
        ys = ys[: draw(st.integers(0, len(ys)))] if ys else [0.0, 1.0]
    return np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)


def _canon(v):
    """Bit-exact comparison key as Spark sees a kernel's output: bytes
    as-is, floats by hex, lists element-wise. A NaN result field
    becomes None — the pandas-UDF serializer masks ``isnull()`` values,
    so NaN and None both arrive as SQL NULL."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x) for x in v]
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    v = float(v)
    return None if math.isnan(v) else v.hex()


def _rows(frame: pd.DataFrame) -> list:
    return [_canon(list(r)) for r in frame.itertuples(index=False)]


@settings(max_examples=150, deadline=None)
@given(st.lists(_ring(), min_size=1, max_size=12))
def test_poly_prep_fast_path_matches_prepare_of_make_polygon(rings):
    xs = pd.Series([r[0] for r in rings], dtype=object)
    ys = pd.Series([r[1] for r in rings], dtype=object)
    fused = K._st_poly_prep.func(xs, ys)
    chain = K._st_prepare.func(K._st_make_polygon.func(xs, ys))
    # bbox corners compare with signed zeros equal: over a ring holding
    # both 0.0 and -0.0, NumPy's min/max may return either sign where
    # Python's returns the first, and the bbox only feeds comparisons
    # and differences. Geometry bytes, boxy and area compare bit-exact.
    for frame in (fused, chain):
        frame["bbox"] = [
            None if b is None else [v + 0.0 for v in b] for b in frame["bbox"]
        ]
    assert _rows(fused) == _rows(chain)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.none() | _COORD, st.none() | _COORD), max_size=12))
def test_vectorized_point_matches_per_row_write_wkb(pts):
    x = pd.Series([p[0] for p in pts], dtype=np.float64)
    y = pd.Series([p[1] for p in pts], dtype=np.float64)
    got = list(K._st_point.func(x, y))
    want = [
        W.write_wkb(
            W.POINT_EMPTY if math.isnan(a) or math.isnan(b) else ("Point", (a, b))
        )
        for a, b in zip(x, y)
    ]
    assert got == want


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_COORD, _COORD), min_size=1, max_size=12))
def test_st_xy_uniform_batch_matches_per_row(pts):
    """A batch of st_point WKB takes the uniform-batch path; the same
    points followed by a non-point make the batch take the per-row path.
    Both must read every point identically (POINT EMPTY -> nulls)."""
    wkbs = list(
        K._st_point.func(
            pd.Series([p[0] for p in pts], dtype=np.float64),
            pd.Series([p[1] for p in pts], dtype=np.float64),
        )
    )
    line = W.write_wkb(("LineString", [(0.0, 0.0), (1.0, 1.0)]))
    uniform = K._st_xy.func(pd.Series(wkbs))
    per_row = K._st_xy.func(pd.Series(wkbs + [line]))
    assert _rows(uniform) == _rows(per_row)[:-1]
    assert _rows(per_row)[-1] == [None, None]
    # the SQL faces ST_X / ST_Y read the same core
    assert _canon(list(K._st_x.func(pd.Series(wkbs)))) == [r[0] for r in _rows(uniform)]
    assert _canon(list(K._st_y.func(pd.Series(wkbs)))) == [r[1] for r in _rows(uniform)]


def test_geometry_parsers_share_the_auto_repair():
    """ST_GeomFromGeoJSON and ST_GeomFromAny repair on parse the same
    way: make_valid on polygons, simplify(0) on lines, other types
    untouched, NULL and unparseable input to NULL. The GeoJSON and WKT
    spellings of one geometry give the same WKB."""
    # a repeated vertex that make_valid drops, a collinear one that
    # simplify(0) drops
    poly = ("Polygon", [[(0.0, 0.0), (0.0, 0.0), (4.0, 0.0), (4.0, 3.0),
                         (0.0, 3.0), (0.0, 0.0)]])
    line = ("LineString", [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (2.0, 1.0)])
    point = ("Point", (1.5, -2.0))
    geoms = [poly, line, point]
    want = [
        W.write_wkb(ops.make_valid(poly)),
        W.write_wkb(ops.simplify(line, 0.0)),
        W.write_wkb(point),
    ]
    assert want[0] != W.write_wkb(poly) and want[1] != W.write_wkb(line)
    geojson = [json.dumps(W.to_geojson(g)) for g in geoms]
    wkt = ["POLYGON ((0 0, 0 0, 4 0, 4 3, 0 3, 0 0))",
           "LINESTRING (0 0, 1 0, 2 0, 2 1)", "POINT (1.5 -2)"]
    assert list(K._st_geomfromgeojson.func(pd.Series(geojson + [None]))) == want + [None]
    assert list(K._st_geomfromany.func(pd.Series(geojson + wkt + [None]))) == (
        want + want + [None]
    )


# --- K.BOX_T: SQL-built boxes against the Python preps they replace ----------

_FINITE = st.one_of(
    st.integers(-3, 3).map(float),
    st.sampled_from([-0.0, 1e-13, 1e300, -1e300, 1.7e308]),
    st.floats(allow_nan=False, allow_infinity=False),
)


def _hexed(bbox):
    return None if bbox is None else [float(v).hex() for v in bbox]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_FINITE, _FINITE, _FINITE, _FINITE), min_size=1, max_size=20))
def test_box_constructors_match_the_python_preps(spark, corners):
    """Over finite corners, st_rect_box and st_point_box give the bbox
    (NULL where it is NULL, signs of zero included) and the area that
    st_poly_prep gives for the box's ring and the former hand-built
    point prep gave, and _st_box_wkb gives their geom byte for byte."""
    from terra_bonobo_nodes_spark.operators.spatial import _prepared

    df = spark.createDataFrame(
        [(i, *c) for i, c in enumerate(corners)],
        "id int, x0 double, y0 double, x1 double, y1 double",
    )
    boxes = df.select(
        "id",
        K.st_rect_box("x0", "y0", "x1", "y1").alias("rect"),
        K.st_point_box("x0", "y0").alias("pt"),
    )
    got = {}
    for side in ("rect", "pt"):
        prep = _prepared(boxes, side, "p", K.st_prepare, "id")
        got[side] = {r.id: r.p for r in prep.collect()}
    # the box's ring runs counter-clockwise from its min corner
    lo = [(min(a, c), min(b, d), max(a, c), max(b, d)) for a, b, c, d in corners]
    xs = pd.Series([np.array([p, r, r, p]) for p, q, r, s in lo], dtype=object)
    ys = pd.Series([np.array([q, q, s, s]) for p, q, r, s in lo], dtype=object)
    ring = K._st_poly_prep.func(xs, ys)
    x = pd.Series([c[0] for c in corners], dtype=np.float64)
    y = pd.Series([c[1] for c in corners], dtype=np.float64)
    point_wkb = list(K._st_point.func(x, y))
    for i, (a, b, c, d) in enumerate(corners):
        rect, pt = got["rect"][i], got["pt"][i]
        want = ring.iloc[i]
        assert _hexed(rect.bbox) == _canon(want["bbox"]), (i, corners[i])
        assert rect.boxy
        if rect.bbox is not None:
            assert _canon(rect.area) == _canon(want["area"])
            assert bytes(rect.geom) == bytes(want["geom"])
            # the given corner order gives the same bbox
            given = K._st_poly_prep.func(
                pd.Series([np.array([a, c, c, a])]), pd.Series([np.array([b, b, d, d])])
            )
            assert _hexed(rect.bbox) == _canon(given["bbox"].iloc[0])
        # the former hand-built point prep: bbox [x, y, x, y], area 0
        assert _hexed(pt.bbox) == [a.hex(), b.hex(), a.hex(), b.hex()]
        assert pt.area == 0.0 and pt.boxy
        assert bytes(pt.geom) == point_wkb[i]


def test_box_constructors_reject_invalid_and_degenerate_input(spark):
    """NULL, NaN and infinite coordinates, and a rectangle side no
    longer than ops.EPS, give bbox NULL (the row never joins) and
    POINT EMPTY as WKB. st_poly_prep drops the same finite rings; a
    ring with an infinite corner it keeps, with an infinite bbox and a
    NaN area, where st_rect_box gives NULL."""
    inf, nan = math.inf, math.nan
    bad = [
        (None, 0.0, 1.0, 1.0),
        (nan, 0.0, 1.0, 1.0),
        (0.0, inf, 1.0, 1.0),
        (-inf, 0.0, 1.0, 1.0),
        (0.0, 0.0, 0.0, 1.0),  # zero width
        (0.0, 0.0, 1.0, 1e-12),  # height == EPS
        (0.0, -0.0, 1.0, 0.0),  # a side between the two zeros
    ]
    df = spark.createDataFrame(
        [(i, *c) for i, c in enumerate(bad)],
        "id int, x0 double, y0 double, x1 double, y1 double",
    )
    rows = df.select(
        "id",
        K.st_rect_box("x0", "y0", "x1", "y1").alias("r"),
        K.st_point_box("x0", "y0").alias("p"),
    ).collect()
    assert all(r.r.bbox is None for r in rows)
    assert [r.p.bbox is None for r in sorted(rows, key=lambda r: r.id)] == [
        True, True, True, True, False, False, False
    ]
    wkb = K._st_box_wkb.func(pd.Series([None, np.array([1.0, 2.0, 1.0, 2.0])]))
    assert list(wkb) == [W.write_wkb(W.POINT_EMPTY), W.write_wkb(("Point", (1.0, 2.0)))]
    for i, (a, b, c, d) in enumerate(bad[2:], start=2):
        ring = K._st_poly_prep.func(
            pd.Series([np.array([a, c, c, a])]), pd.Series([np.array([b, b, d, d])])
        ).iloc[0]
        if i < 4:
            assert any(math.isinf(v) for v in ring["bbox"]) and math.isnan(ring["area"])
        else:
            assert ring["bbox"] is None


def test_signed_zero_box_bbox_keeps_each_corner_sign(spark):
    """The signed-zero case of the vectorized bbox: the SQL bbox keeps
    each corner's sign, as the per-row prep does. A ring that holds both
    0.0 and -0.0 on one axis has a zero-length side, so st_rect_box
    gives NULL there and never picks between the two signs."""
    df = spark.createDataFrame(
        [(0, -0.0, 0.0, 2.0, 3.0), (1, 2.0, 3.0, -0.0, -0.0)],
        "id int, x0 double, y0 double, x1 double, y1 double",
    )
    got = {
        r.id: (r.b.bbox, r.p.bbox)
        for r in df.select(
            "id",
            K.st_rect_box("x0", "y0", "x1", "y1").alias("b"),
            K.st_point_box("x0", "y0").alias("p"),
        ).collect()
    }
    assert _hexed(got[0][0]) == _hexed([-0.0, 0.0, 2.0, 3.0])
    assert _hexed(got[1][0]) == _hexed([-0.0, -0.0, 2.0, 3.0])
    assert _hexed(got[0][1]) == _hexed([-0.0, 0.0, -0.0, 0.0])
    per_row = K._prep_row(W.write_wkb(("Point", (-0.0, 0.0))), repair=False)[1]
    assert _hexed(per_row) == _hexed(got[0][1])
    ring = [(-0.0, 0.0), (2.0, 0.0), (2.0, 3.0), (-0.0, 3.0), (-0.0, 0.0)]
    per_row = K._prep_row(W.write_wkb(("Polygon", [ring])), repair=True)[1]
    assert _hexed(per_row) == _hexed(got[0][0])


def _ell_wkb(x, y):
    ring = [(x, y), (x + 4, y), (x + 4, y + 2), (x + 2, y + 2), (x + 2, y + 4),
            (x, y + 4), (x, y)]
    return W.write_wkb(("Polygon", [ring]))


@pytest.fixture(scope="module")
def mixed_sides(spark):
    """Points and squares as boxes and as the same WKB, against concave
    L-shapes as WKB: records and a layer of each kind."""
    pts = [(f"p{i}", float(i % 7) - 1.5, float(i % 5) - 0.5) for i in range(30)]
    sq = [(f"s{i}", float(i % 6) - 2.0, float(i % 4) - 1.0) for i in range(24)]
    box_rec = spark.createDataFrame(pts, "identifier string, x double, y double").select(
        "identifier", K.st_point_box("x", "y").alias("g"), K.st_point("x", "y").alias("w")
    ).unionByName(
        spark.createDataFrame(sq, "identifier string, x double, y double").select(
            "identifier",
            K.st_rect_box("x", "y", "x + 1.5", "y + 1.5").alias("g"),
            K.st_make_polygon(
                F.expr("array(x, x + 1.5, x + 1.5, x)"), F.expr("array(y, y, y + 1.5, y + 1.5)")
            ).alias("w"),
        )
    )
    ells = spark.createDataFrame(
        [(f"l{i}", _ell_wkb(float(i % 4) - 2.0, float(i % 3) - 2.0)) for i in range(12)],
        "identifier string, g binary",
    )
    cells = spark.createDataFrame(
        [(float(i % 4) - 2.0, float(i // 4) - 2.0) for i in range(16)], "x double, y double"
    ).select(
        K.st_rect_box("x", "y", "x + 1", "y + 1").alias("g"),
        K.st_make_polygon(
            F.expr("array(x, x + 1, x + 1, x)"), F.expr("array(y, y, y + 1, y + 1)")
        ).alias("w"),
    )
    ell_layer = ells.select("g", F.col("g").alias("w"))
    return box_rec, ells, cells, ell_layer


def _answers(op, rec, lay, rg, lg, cell):
    from terra_bonobo_nodes_spark.operators.spatial import (
        boolean_intersect,
        intersection_geom,
        intersection_percent_by_area,
    )

    kw = dict(record_geom=rg, layer_geom=lg, cell=cell)
    lay = lay.select(F.col(lg))
    if op == "boolean_intersect":
        out = boolean_intersect(rec, lay, out="v", **kw)
    elif op.startswith("intersection_percent"):
        out = intersection_percent_by_area(
            rec, lay, out="v", dissolve=op.endswith("dissolve"), **kw
        )
    else:
        # the clipped area: the collected parts' order is the
        # aggregate's input order, which the plan does not fix
        out = intersection_geom(rec, lay, geom_dest="zone", **kw)
        out = out.withColumn("v", K.st_area("zone"))
    return {r.identifier: r.v for r in out.select("identifier", "v").collect()}


@pytest.mark.parametrize("cell", [None, 1.5])
@pytest.mark.parametrize(
    "op",
    [
        "boolean_intersect",
        "intersection_percent_by_area",
        "intersection_percent_by_area_dissolve",
        "intersection_geom",
    ],
)
def test_box_sides_answer_as_their_wkb(mixed_sides, op, cell):
    """Box points and squares against concave L tiles, L records
    against box cells, and boxes against boxes: each join answers
    exactly as it does for the same geometry given as WKB."""
    box_rec, ells, cells, ell_layer = mixed_sides
    if op.startswith("intersection_percent"):
        # a point record has no area to divide by
        box_rec = box_rec.filter("identifier LIKE 's%'")
    for rec, lay in ((box_rec, ell_layer), (ells, cells), (box_rec, cells)):
        rec_g = "g" if "w" not in rec.columns else "w"
        want = _answers(op, rec, lay, rec_g, "w", cell)
        got = _answers(op, rec, lay, "g", "g", cell)
        assert got == want
        assert any(v not in (False, 0.0, None) for v in want.values())
