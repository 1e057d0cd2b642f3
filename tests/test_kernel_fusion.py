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

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.geo import kernels as K
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
