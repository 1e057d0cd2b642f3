"""ST-style column functions backed by Arrow-batched pandas UDFs.

Geometry is WKB in BinaryType columns (see ``geo.__init__`` docstring).
Every function here is the slow-path escape hatch the SURVEY §4.2 plan
calls for: rows cross to Python once per batch via Arrow, the kernel
loops in-process, and results return as one Arrow batch. At 100 TB the
mitigations are (a) batch size via
``spark.sql.execution.arrow.maxRecordsPerBatch``, (b) operators
pre-filter with cheap JVM-side predicates (bbox columns, grid keys)
so the Python kernel only sees candidate rows, (c) the ST names match
Apache Sedona's so swapping to JVM execution is mechanical.
"""

from __future__ import annotations

import functools
import json
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from terra_bonobo_nodes_spark.geo import ops
from terra_bonobo_nodes_spark.geo import wkb as W


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _map1(series: pd.Series, fn) -> list:
    return [fn(v) for v in series]


# --- constructors / accessors -----------------------------------------------


# LE WKB headers for the vectorized batch builders below
_PT_HEAD = struct.pack("<BI", 1, 1)  # byte order + Point type code


@pandas_udf(BinaryType())
def _st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    """Point WKB, batch-vectorized (guide §4.2): the 21-byte LE layout
    is built as one (n, 21) uint8 matrix instead of n struct.pack
    calls — byte-identical to write_wkb(("Point", (x, y))), with
    None/NaN in either coordinate yielding POINT EMPTY (NaN, NaN)
    exactly as the per-row form did."""
    n = len(x)
    if n == 0:
        return pd.Series([], dtype=object)
    xv = np.asarray(pd.to_numeric(x), dtype=np.float64)
    yv = np.asarray(pd.to_numeric(y), dtype=np.float64)
    bad = np.isnan(xv) | np.isnan(yv)
    if bad.any():
        xv = np.where(bad, np.nan, xv)
        yv = np.where(bad, np.nan, yv)
    coords = np.empty((n, 2), dtype="<f8")
    coords[:, 0] = xv
    coords[:, 1] = yv
    blob = coords.tobytes()
    return pd.Series([_PT_HEAD + blob[i * 16 : i * 16 + 16] for i in range(n)])


@pandas_udf(BinaryType())
def _st_pointz(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    return pd.Series(
        [
            W.write_wkb(("Point", (float(xv), float(yv), float(zv))))
            if xv is not None
            else None
            for xv, yv, zv in zip(x, y, z)
        ]
    )


_XY_T = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]
)


def _xy(g: pd.Series) -> pd.DataFrame:
    """The one coordinate-read core behind st_xy, st_x and st_y: a
    point's (x, y) in one parse, null fields for non-points and
    empties. Vectorized fast path when the whole batch is uniform
    21-byte LE point WKB (the shape the vectorized _st_point and
    point-column pipelines produce); every other batch reads per row."""
    n = len(g)
    vals = g.to_numpy()
    uniform = n > 0 and all(
        b is not None and len(b) == 21 and bytes(b[:5]) == _PT_HEAD for b in vals
    )
    if uniform:
        blob = b"".join(bytes(b[5:]) for b in vals)
        coords = np.frombuffer(blob, dtype="<f8").reshape(n, 2)
        empty = np.isnan(coords[:, 0])
        ox = coords[:, 0].astype(object)
        oy = coords[:, 1].astype(object)
        ox[empty] = None
        oy[empty] = None
        return pd.DataFrame({"x": ox, "y": oy})
    xs_out, ys_out = [], []
    for b in vals:
        geom = W.parse_wkb(b)
        if geom is None or geom[0] != "Point" or W.is_empty(geom):
            xs_out.append(None)
            ys_out.append(None)
        else:
            xs_out.append(geom[1][0])
            ys_out.append(geom[1][1])
    return pd.DataFrame({"x": xs_out, "y": ys_out})


@pandas_udf(_XY_T)
def _st_xy(g: pd.Series) -> pd.DataFrame:
    return _xy(g)


@pandas_udf(DoubleType())
def _st_x(g: pd.Series) -> pd.Series:
    return _xy(g)["x"]


@pandas_udf(DoubleType())
def _st_y(g: pd.Series) -> pd.Series:
    return _xy(g)["y"]


@pandas_udf(StringType())
def _st_astext(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: W.write_wkt(W.parse_wkb(b))))


@pandas_udf(BinaryType())
def _st_geomfromtext(t: pd.Series) -> pd.Series:
    return pd.Series(_map1(t, lambda s: W.write_wkb(W.parse_wkt(s))))


@pandas_udf(StringType())
def _st_asgeojson(g: pd.Series) -> pd.Series:
    def f(b):
        d = W.to_geojson(W.parse_wkb(b))
        return None if d is None else json.dumps(d, separators=(",", ":"))

    return pd.Series(_map1(g, f))


@pandas_udf(BinaryType())
def _st_geomfromgeojson(t: pd.Series) -> pd.Series:
    def f(s):
        if s is None:
            return None
        # auto-repair on parse, mirroring AttributeToGeometry
        # (common.py:306-312): make_valid polygons, simplify(0) lines
        g = W.from_geojson(s)
        if g is None:
            return None
        if g[0] in ("Polygon", "MultiPolygon"):
            g = ops.make_valid(g)
        elif g[0] in ("LineString", "MultiLineString"):
            g = ops.simplify(g, 0.0)
        return W.write_wkb(g)

    return pd.Series(_map1(t, f))


@pandas_udf(BinaryType())
def _st_geomfromany(t: pd.Series) -> pd.Series:
    """GEOSGeometry-style multi-format parse (``common.py:297-303``):
    GeoJSON or WKT per row, with the reference's auto-repair. A single
    kernel (not when/otherwise over two UDFs — Spark evaluates both
    branches on every row, so the wrong-format parser would raise)."""

    def f(s):
        if s is None:
            return None
        g = W.from_geojson(s) if s.lstrip().startswith("{") else W.parse_wkt(s)
        if g is None:
            return None
        if g[0] in ("Polygon", "MultiPolygon"):
            g = ops.make_valid(g)
        elif g[0] in ("LineString", "MultiLineString"):
            g = ops.simplify(g, 0.0)
        return W.write_wkb(g)

    return pd.Series(_map1(t, f))


@pandas_udf(BooleanType())
def _st_isempty(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: W.is_empty(W.parse_wkb(b))))


@pandas_udf(IntegerType())
def _st_npoints(g: pd.Series) -> pd.Series:
    def f(b):
        geom = W.parse_wkb(b)
        if geom is None:
            return None
        return sum(1 for _ in ops._points(geom))

    return pd.Series(_map1(g, f))


# --- measures ----------------------------------------------------------------


@pandas_udf(DoubleType())
def _st_area(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: ops.area(W.parse_wkb(b))))


@pandas_udf(DoubleType())
def _st_length(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: ops.length(W.parse_wkb(b))))


@pandas_udf(BinaryType())
def _st_centroid(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: W.write_wkb(ops.centroid(W.parse_wkb(b)))))


# The prepared-geometry type: what st_prepare and st_poly_prep return,
# and what the spatial joins accept in place of a WKB column.
PREPARED_T = StructType(
    [
        StructField("geom", BinaryType()),
        StructField("bbox", ArrayType(DoubleType())),
        StructField("boxy", BooleanType()),
        StructField("area", DoubleType()),
    ]
)


def _prep_row(b, repair: bool) -> tuple:
    """The exact per-row join prep behind st_bbox_boxy, st_prepare and
    st_poly_prep's fallback: parse WKB ``b`` (make_valid it when
    ``repair``) and return (geom, bbox, boxy). A geometry that fails to
    parse or repair, or has no points, gets bbox None and boxy False.
    boxy is True for points and axis-aligned rectangle polygons — for a
    boxy×boxy pair, bbox overlap ⇔ intersects and the overlap area is
    closed-form, so spatial joins evaluate those pairs entirely
    JVM-side."""
    try:
        geom = W.parse_wkb(b)
        if repair:
            geom = ops.make_valid(geom)
        bb = ops.bbox(geom) if geom is not None else None
    except Exception:
        geom, bb = None, None
    if bb is None:
        return geom, None, False
    return geom, list(bb), geom[0] == "Point" or ops.as_axis_rect(geom) is not None


def _prepare_row(b) -> tuple:
    """One PREPARED_T row: make_valid + bbox + boxy + area in one parse
    and write; an unparseable geometry becomes POINT EMPTY."""
    geom, bb, boxy = _prep_row(b, repair=True)
    wkb = W.write_wkb(W.POINT_EMPTY if geom is None else geom)
    return wkb, bb, boxy, 0.0 if bb is None else ops.area(geom)


_BBOX_BOXY_T = StructType(
    [
        StructField("bbox", ArrayType(DoubleType())),
        StructField("boxy", BooleanType()),
    ]
)


def _bbox_boxy(g: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [_prep_row(b, repair=False)[1:] for b in g], columns=_BBOX_BOXY_T.names
    )


@pandas_udf(ArrayType(DoubleType()))
def _st_bbox(g: pd.Series) -> pd.Series:
    return _bbox_boxy(g)["bbox"]


@pandas_udf(_BBOX_BOXY_T)
def _st_bbox_boxy(g: pd.Series) -> pd.DataFrame:
    """bbox + 'geometry IS its bbox' flag in one parse (see _prep_row)."""
    return _bbox_boxy(g)


@pandas_udf(PREPARED_T)
def _st_prepare(g: pd.Series) -> pd.DataFrame:
    """make_valid + bbox + boxy + area in ONE parse/write — the join
    operators' per-row preparation fused so the record side crosses to
    Python once instead of three times."""
    return pd.DataFrame([_prepare_row(b) for b in g], columns=PREPARED_T.names)


_POLY_HEAD = struct.pack("<BI", 1, 3) + struct.pack("<I", 1)  # Polygon, 1 ring


@pandas_udf(PREPARED_T)
def _st_poly_prep(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
    """``st_prepare(st_make_polygon(xs, ys))`` fused into ONE crossing
    (guide §4.1) with a NumPy-vectorized fast path per ring-length
    class (guide §4.2): the single-ring WKB layout, the shoelace area
    (accumulated in the per-row term order, so bit-identical), the
    bbox min/max and the axis-rect test all evaluate as (rows, L)
    matrix ops. Rows the fast path cannot prove equivalent (length
    mismatch, NaN coordinates, consecutive duplicate vertices within
    EPS, degenerate rings) fall back to the exact per-row chain."""
    n = len(xs)
    xs_np = xs.to_numpy()
    ys_np = ys.to_numpy()
    rows: list = [None] * n

    def slow(i: int) -> None:
        rows[i] = _prepare_row(_polygon_wkb(xs_np[i], ys_np[i]))

    # classify rows into ring-length classes for the vectorized path
    classes: dict[tuple[int, bool], list[int]] = {}
    ax_rows: list = [None] * n
    ay_rows: list = [None] * n
    for i in range(n):
        xv, yv = xs_np[i], ys_np[i]
        if xv is None or yv is None:
            slow(i)
            continue
        ax = np.asarray(xv, dtype=np.float64)
        ay = np.asarray(yv, dtype=np.float64)
        m = ax.shape[0]
        if m < 3 or ay.shape[0] != m:
            slow(i)
            continue
        ax_rows[i] = ax
        ay_rows[i] = ay
        needs_close = ax[0] != ax[-1] or ay[0] != ay[-1]
        classes.setdefault((m, needs_close), []).append(i)

    for (m, needs_close), members in classes.items():
        idx = np.asarray(members)
        X = np.stack([ax_rows[i] for i in members])
        Y = np.stack([ay_rows[i] for i in members])
        if needs_close:
            X = np.concatenate([X, X[:, :1]], axis=1)
            Y = np.concatenate([Y, Y[:, :1]], axis=1)
        L = X.shape[1]
        dx = np.diff(X, axis=1)
        dy = np.diff(Y, axis=1)
        # rows the vectorized path must not touch: NaNs anywhere, a
        # consecutive duplicate vertex (make_valid would drop it), or
        # a ring too short to survive fix_ring
        bad = (
            np.isnan(X).any(axis=1)
            | np.isnan(Y).any(axis=1)
            | (np.hypot(dx, dy) <= ops.EPS).any(axis=1)
            | (L < 4)
        )
        for i in idx[bad]:
            slow(int(i))
        if bad.all():
            continue
        keep = ~bad
        Xo, Yo, io = X[keep], Y[keep], idx[keep]
        k = Xo.shape[0]
        # shoelace, accumulated term-by-term like _ring_area2
        s = np.zeros(k)
        for j in range(L - 1):
            s += Xo[:, j] * Yo[:, j + 1] - Xo[:, j + 1] * Yo[:, j]
        ar = np.abs(s) / 2.0
        x0, y0 = Xo.min(axis=1), Yo.min(axis=1)
        x1, y1 = Xo.max(axis=1), Yo.max(axis=1)
        if L == 5:
            # as_axis_rect vectorized: exactly 2 distinct xs and ys,
            # every consecutive side axis-parallel (ring closure is
            # already exact for this class)
            nux = 1 + (np.diff(np.sort(Xo, axis=1), axis=1) != 0).sum(axis=1)
            nuy = 1 + (np.diff(np.sort(Yo, axis=1), axis=1) != 0).sum(axis=1)
            sides = ((dx[keep] == 0) | (dy[keep] == 0)).all(axis=1)
            boxy_v = (nux == 2) & (nuy == 2) & sides
        else:
            boxy_v = np.zeros(k, dtype=bool)
        head = _POLY_HEAD + struct.pack("<I", L)
        coords = np.empty((k, 2 * L), dtype="<f8")
        coords[:, 0::2] = Xo
        coords[:, 1::2] = Yo
        blob = coords.tobytes()
        stride = 16 * L
        for t in range(k):
            rows[int(io[t])] = (
                head + blob[t * stride : (t + 1) * stride],
                [float(x0[t]), float(y0[t]), float(x1[t]), float(y1[t])],
                bool(boxy_v[t]),
                float(ar[t]),
            )
    return pd.DataFrame(rows, columns=PREPARED_T.names)


def _polygon_wkb(xv, yv) -> bytes:
    """One row of st_make_polygon: a single ring from coordinate arrays
    (zip-truncated to the shorter one), auto-closed; POINT EMPTY for a
    NULL array or fewer than 3 vertices."""
    if xv is None or yv is None:
        return W.write_wkb(W.POINT_EMPTY)
    ring = [(float(x), float(y)) for x, y in zip(xv, yv)]
    if len(ring) < 3:
        return W.write_wkb(W.POINT_EMPTY)
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    return W.write_wkb(("Polygon", [ring]))


@pandas_udf(BinaryType())
def _st_make_polygon(xs: pd.Series, ys: pd.Series) -> pd.Series:
    """Polygon from coordinate arrays (ring auto-closed) — the direct
    constructor for synthesized shapes: no WKT formatting + reparsing,
    one Python pass."""
    return pd.Series([_polygon_wkb(xv, yv) for xv, yv in zip(xs, ys)])


@pandas_udf(BinaryType())
def _st_make_line(xs: pd.Series, ys: pd.Series) -> pd.Series:
    """LineString from coordinate arrays — direct constructor, no WKT."""
    out = []
    for xv, yv in zip(xs, ys):
        if xv is None or yv is None or len(xv) < 2:
            out.append(W.write_wkb(W.POINT_EMPTY))
            continue
        out.append(
            W.write_wkb(
                ("LineString", [(float(x), float(y)) for x, y in zip(xv, yv)])
            )
        )
    return pd.Series(out)


@pandas_udf(DoubleType())
def _st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [ops.distance(W.parse_wkb(x), W.parse_wkb(y)) for x, y in zip(a, b)]
    )


# --- predicates / overlay ----------------------------------------------------


@pandas_udf(BooleanType())
def _st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    def f(x, y):
        # NULL fast path: operators NULL-mask args for pairs the JVM
        # bbox predicate already decided — skip the parse entirely
        if x is None or y is None:
            return False
        try:
            return ops.intersects(W.parse_wkb(x), W.parse_wkb(y))
        except Exception:
            # BooleanIntersect error contract: False + log (terra.py:238-240)
            return False

    return pd.Series([f(x, y) for x, y in zip(a, b)])


@pandas_udf(BinaryType())
def _st_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            W.write_wkb(ops.intersection(W.parse_wkb(x), W.parse_wkb(y)))
            for x, y in zip(a, b)
        ]
    )


@pandas_udf(DoubleType())
def _st_intersection_area(a: pd.Series, b: pd.Series) -> pd.Series:
    """Fused a ∩ b → area: one parse per input, no intermediate WKB
    write/parse, and an O(1) closed-form path when both sides are
    axis-aligned rectangles — the hot kernel of the J2/J3 joins (three
    chained UDFs otherwise triple the serialization cost). Validity
    repair belongs upstream, once per ROW (operators apply
    st_makevalid before the join), not once per pair here."""

    # per-batch parse cache: the broadcast layer side repeats its few
    # distinct WKBs across every candidate pair in the batch
    cache: dict = {}

    def parse(by):
        g = cache.get(by)
        if g is None:
            g = W.parse_wkb(by)
            cache[by] = g
        return g

    return pd.Series([ops.intersection_area(parse(x), parse(y)) for x, y in zip(a, b)])


@pandas_udf(BinaryType())
def _st_difference(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            W.write_wkb(ops.difference(W.parse_wkb(x), W.parse_wkb(y)))
            for x, y in zip(a, b)
        ]
    )


# --- transforms / repair -----------------------------------------------------


@pandas_udf(BinaryType())
def _st_simplify(g: pd.Series, tol: pd.Series) -> pd.Series:
    return pd.Series(
        [
            W.write_wkb(ops.simplify(W.parse_wkb(b), float(t)))
            if b is not None
            else None
            for b, t in zip(g, tol)
        ]
    )


_SIMPLIFY_SUMMARY_T = StructType(
    [
        StructField("n_points", IntegerType()),
        StructField("cx", DoubleType()),
        StructField("cy", DoubleType()),
    ]
)

# The two fused chain kernels below SPECIALIZE their scalar parameter
# into a memoized single-argument UDF instead of passing it as a
# literal column: Spark only evaluates a chained Python UDF in the
# SAME ArrowEvalPython node when the outer UDF's children are exactly
# one PythonUDF (ExtractPythonUDFs' canEvaluateInPython), so
# f(inner_udf, lit) forces the inner UDF to materialize in its own
# node — the exact split the fusion exists to remove.


@functools.cache
def _simplify_summary_udf(tol: float):
    def _summary(g: pd.Series) -> pd.DataFrame:
        """simplify → (npoints, centroid x/y) in ONE parse and one
        crossing — the fused form of the st_npoints(st_simplify(g)) +
        st_x/st_y(st_centroid(st_simplify(g))) chains. Field
        semantics match the standalone kernels (None n_points for
        unparseable input, None coords for an empty centroid)."""
        ns, cxs, cys = [], [], []
        for b in g:
            geom = W.parse_wkb(b)
            if geom is None:
                ns.append(None)
                cxs.append(None)
                cys.append(None)
                continue
            simp = ops.simplify(geom, tol)
            ns.append(sum(1 for _ in ops._points(simp)))
            c = ops.centroid(simp)
            if c is None or c[0] != "Point" or W.is_empty(c):
                cxs.append(None)
                cys.append(None)
            else:
                cxs.append(c[1][0])
                cys.append(c[1][1])
        return pd.DataFrame({"n_points": ns, "cx": cxs, "cy": cys})

    _summary.__name__ = f"_st_simplify_summary_{tol!r}".replace(".", "_")
    return pandas_udf(_SIMPLIFY_SUMMARY_T)(_summary)


@functools.cache
def _subdivide_areas_udf(max_vertices: int):
    def _areas(g: pd.Series) -> pd.Series:
        """make_valid → subdivide → area-per-part in ONE crossing —
        the fused st_area(explode(st_subdivide(st_makevalid(g))))
        chain (three ArrowEvalPython nodes otherwise); the caller
        explodes the AREAS array JVM-side, so no per-part WKB ever
        crosses back. Part order and values are the recursive
        quartering's, identical to the unfused chain (WKB round-trips
        are exact)."""
        return pd.Series(
            [
                [
                    ops.area(p)
                    for p in ops.subdivide(
                        ops.make_valid(W.parse_wkb(b)), max_vertices
                    )
                ]
                if b is not None
                else []
                for b in g
            ]
        )

    _areas.__name__ = f"_st_subdivide_areas_{max_vertices}"
    # non-deterministic mark (guide §4.4): posexplode over this UDF's
    # array makes the optimizer infer a size(...) > 0 filter and push
    # it BELOW the projection, duplicating the whole subdivide chain
    # into a second ArrowEvalPython node (observed: every row paid the
    # 12-gon subdivision twice). The mark stops the duplication; empty
    # arrays still explode to zero rows without the pre-filter.
    return pandas_udf(ArrayType(DoubleType()))(_areas).asNondeterministic()


@pandas_udf(BinaryType())
def _st_makevalid(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: W.write_wkb(ops.make_valid(W.parse_wkb(b)))))


@pandas_udf(BinaryType())
def _st_force2d(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: W.write_wkb(ops.force_2d(W.parse_wkb(b)))))


@pandas_udf(BinaryType())
def _st_transform(g: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    return pd.Series(
        [
            W.write_wkb(ops.transform(W.parse_wkb(b), s, d)) if b is not None else None
            for b, s, d in zip(g, src, dst)
        ]
    )


@pandas_udf(BinaryType())
def _st_snaptogrid(g: pd.Series, size: pd.Series) -> pd.Series:
    return pd.Series(
        [
            W.write_wkb(ops.snap_to_grid(W.parse_wkb(b), float(s)))
            if b is not None
            else None
            for b, s in zip(g, size)
        ]
    )


@pandas_udf(BinaryType())
def _st_envelope(g: pd.Series) -> pd.Series:
    return pd.Series(_map1(g, lambda b: W.write_wkb(ops.envelope(W.parse_wkb(b)))))


@pandas_udf(ArrayType(BinaryType()))
def _st_subdivide(g: pd.Series, maxv: pd.Series) -> pd.Series:
    return pd.Series(
        [
            [W.write_wkb(p) for p in ops.subdivide(W.parse_wkb(b), int(m))]
            if b is not None
            else []
            for b, m in zip(g, maxv)
        ]
    )


# --- aggregate ---------------------------------------------------------------


@pandas_udf(BinaryType())
def _st_collect_agg(g: pd.Series) -> bytes:
    """GROUPED_AGG: collect geometries into a Multi*/collection
    (``Collect(geom)`` in CollectAndSum ``common.py:253``;
    area-equivalent to UnionOnProperty's cascaded union for disjoint
    inputs, ``common.py:557-564``)."""
    return W.write_wkb(ops.union_collect(W.parse_wkb(b) for b in g))


@pandas_udf(BinaryType())
def _st_union_agg(g: pd.Series) -> bytes:
    """GROUPED_AGG: TRUE geometric union (overlaps dissolved) as a
    disjoint-piece dissection — the faithful ``UnionOnProperty``
    cascaded ``|=`` (``common.py:557-564``) for overlapping inputs."""
    return W.write_wkb(ops.union_dissolve(W.parse_wkb(b) for b in g))


@pandas_udf(DoubleType())
def _st_union_area_agg(g: pd.Series) -> float:
    """GROUPED_AGG: area of the true union, with an exact grid-count
    path for rectilinear inputs (no clipping at all)."""
    return ops.union_area(W.parse_wkb(b) for b in g)


@pandas_udf(DoubleType())
def _st_rect_union_area_agg(
    x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
) -> float:
    """GROUPED_AGG: union area of axis-aligned rects given as four
    coordinate columns — the no-WKB fast lane for dissolve over boxy
    inputs (the clipped zones never leave the JVM as geometries; only
    4 doubles per pair cross into Arrow)."""
    return ops.rect_union_area(x0.values, y0.values, x1.values, y1.values)


@pandas_udf(DoubleType())
def _st_rect_union_area_lists(
    x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
) -> pd.Series:
    """SCALAR twin of :func:`_st_rect_union_area_agg` over four ARRAY
    columns (one row per group, built by JVM ``collect_list``): the
    same sweep kernel per row, but one Python invocation per Arrow
    batch instead of one per GROUP — r17 measurement at sf0.1 (15k
    groups, ~450k rects): 4.6s -> 2.6s for the identical result. The
    sweep sorts its input internally, so the arbitrary collect_list
    order cannot change the answer."""
    return pd.Series(
        [
            ops.rect_union_area(a, b, c, d)
            for a, b, c, d in zip(x0, y0, x1, y1)
        ]
    )


# --- public column API -------------------------------------------------------


def st_point(x, y) -> Column:
    return _st_point(_col(x), _col(y))


def st_pointz(x, y, z) -> Column:
    return _st_pointz(_col(x), _col(y), _col(z))


def st_x(g) -> Column:
    return st_xy(g)["x"]


def st_y(g) -> Column:
    return st_xy(g)["y"]


def st_astext(g) -> Column:
    return _st_astext(_col(g))


def st_geomfromtext(t) -> Column:
    return _st_geomfromtext(_col(t))


def st_asgeojson(g) -> Column:
    return _st_asgeojson(_col(g))


def st_geomfromgeojson(t) -> Column:
    return _st_geomfromgeojson(_col(t))


def st_geomfromany(t) -> Column:
    return _st_geomfromany(_col(t))


def st_isempty(g) -> Column:
    return _st_isempty(_col(g))


def st_npoints(g) -> Column:
    return _st_npoints(_col(g))


def st_area(g) -> Column:
    return _st_area(_col(g))


def st_length(g) -> Column:
    return _st_length(_col(g))


def st_centroid(g) -> Column:
    return _st_centroid(_col(g))


def st_intersection_area(a, b) -> Column:
    """area(intersection(make_valid(a), b)) in one kernel pass."""
    return _st_intersection_area(_col(a), _col(b))


def st_bbox(g) -> Column:
    """[xmin, ymin, xmax, ymax], null for empty/unparseable geometry.
    Computed ONCE per row so joins can prefilter pairs JVM-side."""
    return _st_bbox(_col(g))


def st_bbox_boxy(g) -> Column:
    """struct<bbox: array<double>, boxy: boolean> — one parse per row;
    see the kernel docstring for the boxy fast-path contract."""
    return _st_bbox_boxy(_col(g))


def st_prepare(g) -> Column:
    """struct<geom, bbox, boxy, area>: make_valid + join-prep metadata
    in a single kernel pass."""
    return _st_prepare(_col(g))


def st_poly_prep(xs, ys) -> Column:
    """``st_prepare(st_make_polygon(xs, ys))`` as ONE fused,
    NumPy-vectorized crossing — the fast lane for synthesized
    single-ring polygon columns feeding the spatial joins."""
    return _st_poly_prep(_col(xs), _col(ys))


def st_xy(g) -> Column:
    """struct<x, y>: st_x + st_y in one parse (point geometries)."""
    return _st_xy(_col(g))


def st_simplify_summary(g, tolerance: float) -> Column:
    """struct<n_points, cx, cy> of the simplified geometry — the fused
    st_npoints/st_centroid-coordinate chain over st_simplify. The
    tolerance specializes a memoized single-arg UDF so the whole
    chain (including a Python-built input geometry) evaluates in ONE
    ArrowEvalPython node."""
    return _simplify_summary_udf(float(tolerance))(_col(g))


def st_subdivide_areas(g, max_vertices: int = 256) -> Column:
    """array<double> of subdivided part areas (make_valid applied
    first) — the fused st_area-over-st_subdivide chain; max_vertices
    specializes a memoized single-arg UDF (see st_simplify_summary)."""
    return _subdivide_areas_udf(int(max_vertices))(_col(g))


def st_make_polygon(xs, ys) -> Column:
    """Single-ring polygon from x/y coordinate array columns."""
    return _st_make_polygon(_col(xs), _col(ys))


def st_make_line(xs, ys) -> Column:
    """LineString from x/y coordinate array columns."""
    return _st_make_line(_col(xs), _col(ys))


def st_distance(a, b) -> Column:
    return _st_distance(_col(a), _col(b))


def st_intersects(a, b) -> Column:
    return _st_intersects(_col(a), _col(b))


def st_intersection(a, b) -> Column:
    return _st_intersection(_col(a), _col(b))


def st_difference(a, b) -> Column:
    return _st_difference(_col(a), _col(b))


def st_simplify(g, tolerance: float) -> Column:
    return _st_simplify(_col(g), F.lit(float(tolerance)))


def st_makevalid(g) -> Column:
    return _st_makevalid(_col(g))


def st_force2d(g) -> Column:
    return _st_force2d(_col(g))


def st_transform(g, src: str, dst: str) -> Column:
    return _st_transform(_col(g), F.lit(src), F.lit(dst))


def st_snaptogrid(g, size: float) -> Column:
    return _st_snaptogrid(_col(g), F.lit(float(size)))


def st_envelope(g) -> Column:
    return _st_envelope(_col(g))


def st_subdivide(g, max_vertices: int = 256) -> Column:
    return _st_subdivide(_col(g), F.lit(int(max_vertices)))


def st_collect_agg(g) -> Column:
    return _st_collect_agg(_col(g))


def st_union_agg(g) -> Column:
    """True geometric union aggregate (dissolved, dissected pieces)."""
    return _st_union_agg(_col(g))


def st_union_area_agg(g) -> Column:
    """Area of the true union of the group's geometries."""
    return _st_union_area_agg(_col(g))


def st_rect_union_area_agg(x0, y0, x1, y1) -> Column:
    """Union area of the group's axis-aligned rects (4 coord cols)."""
    return _st_rect_union_area_agg(_col(x0), _col(y0), _col(x1), _col(y1))


def st_rect_union_area_lists(x0, y0, x1, y1) -> Column:
    """Union area of one row's rect set given as 4 ARRAY columns —
    the batched (one-Python-call-per-Arrow-batch) form of
    :func:`st_rect_union_area_agg`; pair with JVM ``collect_list``."""
    return _st_rect_union_area_lists(_col(x0), _col(y0), _col(x1), _col(y1))


# --- SQL registration --------------------------------------------------------

# every kernel under its PostGIS-style SQL name (SQL lookup is
# case-insensitive, so st_area(...) works too)
_SQL_FUNCTIONS = {
    "ST_Point": _st_point,
    "ST_PointZ": _st_pointz,
    "ST_X": _st_x,
    "ST_Y": _st_y,
    "ST_AsText": _st_astext,
    "ST_GeomFromText": _st_geomfromtext,
    "ST_AsGeoJSON": _st_asgeojson,
    "ST_GeomFromGeoJSON": _st_geomfromgeojson,
    "ST_GeomFromAny": _st_geomfromany,
    "ST_IsEmpty": _st_isempty,
    "ST_NPoints": _st_npoints,
    "ST_Area": _st_area,
    "ST_Length": _st_length,
    "ST_Centroid": _st_centroid,
    "ST_BBox": _st_bbox,
    "ST_BBox_Boxy": _st_bbox_boxy,
    "ST_Prepare": _st_prepare,
    "ST_PolyPrep": _st_poly_prep,
    "ST_XY": _st_xy,
    "ST_MakePolygon": _st_make_polygon,
    "ST_MakeLine": _st_make_line,
    "ST_Distance": _st_distance,
    "ST_Intersects": _st_intersects,
    "ST_Intersection": _st_intersection,
    "ST_IntersectionArea": _st_intersection_area,
    "ST_Difference": _st_difference,
    "ST_Simplify": _st_simplify,
    "ST_MakeValid": _st_makevalid,
    "ST_Force2D": _st_force2d,
    "ST_Transform": _st_transform,
    "ST_SnapToGrid": _st_snaptogrid,
    "ST_Envelope": _st_envelope,
    "ST_Subdivide": _st_subdivide,
    "ST_Collect_Agg": _st_collect_agg,
    "ST_Union_Agg": _st_union_agg,
    "ST_Union_Area_Agg": _st_union_area_agg,
    "ST_Rect_Union_Area_Agg": _st_rect_union_area_agg,
}


def register_st_sql(spark) -> list[str]:
    """Expose the geometry kernel to ``spark.sql`` under PostGIS-style
    names — the SQL surface a reference user's raw-SQL nodes
    (``LayerClusters``' GROUP BY ST_SnapToGrid, ``terra.py:54-64``;
    ``SubdivideGeom``'s ST_Subdivide, ``terra.py:95-97``) expect. The
    Column API (``st_area`` etc. above) stays the primary interface;
    this is the same Arrow-batched kernels reachable from SQL text,
    aggregates included (``SELECT ST_Union_Area_Agg(geom) ... GROUP
    BY``). Returns the registered names. Idempotent per session."""
    for name, fn in _SQL_FUNCTIONS.items():
        spark.udf.register(name, fn)
    return sorted(_SQL_FUNCTIONS)
