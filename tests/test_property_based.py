"""Property-based tests (hypothesis). The pure-Python layers get wide
random sweeps: the geometry codecs must round-trip arbitrary valid
shapes, the area and overlay core must match an independent line
integral and hold its set identities, and the dedup hashing primitives
must hold their algebraic invariants. These pin the kernel math the
pandas UDFs wrap without a SparkSession; the Spark-involving properties
run a handful of examples each (a Spark job per example)."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from terra_bonobo_nodes_spark.geo import ops
from terra_bonobo_nodes_spark.geo import wkb as W
from terra_bonobo_nodes_spark.llm.hashing import MINHASH_P, perm_params

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
coord = st.tuples(finite, finite)


def ring(points):
    return points + [points[0]]


points_geom = st.builds(lambda p: ("Point", p), coord)
multipoint_geom = st.builds(
    lambda ps: ("MultiPoint", ps), st.lists(coord, min_size=1, max_size=6)
)
line_geom = st.builds(
    lambda ps: ("LineString", ps), st.lists(coord, min_size=2, max_size=8)
)
poly_geom = st.builds(
    lambda ps: ("Polygon", [ring(ps)]), st.lists(coord, min_size=3, max_size=8)
)
any_geom = st.one_of(points_geom, multipoint_geom, line_geom, poly_geom)


@settings(max_examples=200, deadline=None)
@given(any_geom)
def test_wkb_roundtrip(g):
    assert W.parse_wkb(W.write_wkb(g)) == g


@settings(max_examples=200, deadline=None)
@given(any_geom)
def test_wkt_roundtrip(g):
    parsed = W.parse_wkt(W.write_wkt(g))
    kind, data = parsed
    assert kind == g[0]

    def flat(d):
        out = []

        def rec(x):
            if isinstance(x, tuple) and x and isinstance(x[0], float):
                out.append(x)
            else:
                for y in x:
                    rec(y)

        rec(d)
        return out

    for (ax, ay), (bx, by) in zip(flat(data), flat(g[1])):
        assert math.isclose(ax, bx, rel_tol=1e-12, abs_tol=1e-9)
        assert math.isclose(ay, by, rel_tol=1e-12, abs_tol=1e-9)


@settings(max_examples=200, deadline=None)
@given(any_geom)
def test_geojson_roundtrip(g):
    assert W.from_geojson(W.to_geojson(g)) == g


@settings(max_examples=100, deadline=None)
@given(any_geom)
def test_bbox_contains_all_points(g):
    bb = ops.bbox(g)
    pts = list(ops._points(g))
    if not pts:
        assert bb is None
        return
    x0, y0, x1, y1 = bb
    for x, y in pts:
        assert x0 <= x <= x1 and y0 <= y <= y1


@settings(max_examples=100, deadline=None)
@given(st.lists(coord, min_size=3, max_size=8))
# collinear at 1e5-scale: zero-area bbox, shoelace area 1.013e-6
@example([(0.0, 237841.0), (144466.0, 237841.0), (2.0**-23, 237841.0)])
def test_envelope_area_bounds_polygon_area(ps):
    r = ring(ps)
    g = ("Polygon", [r])
    x0, y0, x1, y1 = ops.bbox(g)
    # the shoelace sum of n cross terms is exact only up to its
    # rounding error, (n+2)·2⁻⁵³·Σ(|xᵢ·yᵢ₊₁| + |xᵢ₊₁·yᵢ|)
    rounding = (len(ps) + 2) * 2.0**-53 * sum(
        abs(xa * yb) + abs(xb * ya) for (xa, ya), (xb, yb) in zip(r, r[1:])
    )
    assert abs(ops.area(g)) <= (x1 - x0) * (y1 - y0) + rounding + 1e-6


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=128))
def test_minhash_params_in_bounds(k):
    for a, b in perm_params(k):
        assert 0 < a < 2**17 and a % 2 == 1
        assert 0 <= b < 2**32
        # worst-case h < 2^32: a*h + b stays within signed 64-bit
        assert a * (2**32) + b < 2**63
    assert MINHASH_P > 2**32


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=50))
def test_minhash_min_is_set_invariant(hs):
    # min over multiset == min over set: duplicates can't change a signature
    a, b = perm_params(1)[0]
    perm = [(h * a + b) % MINHASH_P for h in hs]
    perm_dedup = [(h * a + b) % MINHASH_P for h in set(hs)]
    assert min(perm) == min(perm_dedup)


# --- overlay invariants ------------------------------------------------------

# polygon from vertices in angular order around a center: simple
# (non-self-intersecting) as long as every consecutive angular gap is
# < π — each edge then lies inside its own convex wedge, and wedges
# are disjoint. Three anchor angles bound every gap below π.
_ANCHORS = [(0.1, 2.0), (2.2, 2.0), (4.3, 2.0)]


def _star_poly(angles_radii, cx=0.0, cy=0.0):
    by_angle = {round(a, 3): (a, r) for a, r in _ANCHORS + list(angles_radii)}
    pts = [
        (cx + r * math.cos(a), cy + r * math.sin(a))
        for a, r in sorted(by_angle.values())
    ]
    return ("Polygon", [ring(pts)])


_angle_radius = st.tuples(
    st.floats(min_value=0.0, max_value=2 * math.pi - 1e-6),
    st.floats(min_value=0.5, max_value=10.0),
)
star_poly = st.builds(
    _star_poly,
    st.lists(_angle_radius, min_size=0, max_size=10, unique_by=lambda t: round(t[0], 3)),
)


@settings(max_examples=120, deadline=None)
@given(star_poly)
def test_single_polygon_dissection_preserves_area(p):
    """union_dissolve of one polygon is its slab-sweep dissection:
    convex pieces whose areas sum to the polygon's."""
    pieces = list(ops._polygons(ops.union_dissolve([p])))
    assert all(len(rings) == 1 and ops.is_convex(rings[0]) for rings in pieces)
    assert abs(ops.area(("MultiPolygon", pieces)) - ops.area(p)) < 1e-6 * max(
        1.0, ops.area(p)
    )


@settings(max_examples=80, deadline=None)
@given(star_poly, star_poly)
def test_intersection_area_bounded_and_symmetric(a, b):
    ia = ops.area(ops.intersection(a, b))
    ib = ops.area(ops.intersection(b, a))
    bound = min(ops.area(a), ops.area(b)) + 1e-6
    assert -1e-9 <= ia <= bound
    assert abs(ia - ib) < 1e-6 * max(1.0, ia)


@settings(max_examples=80, deadline=None)
@given(star_poly, star_poly)
def test_inclusion_exclusion(a, b):
    """area(a) + area(b) == area(a∩b) + area(a∪b) for the dissolve."""
    inter = ops.area(ops.intersection(a, b))
    union = ops.area(ops.union_dissolve([a, b]))
    lhs = ops.area(a) + ops.area(b)
    assert abs(lhs - (inter + union)) < 1e-6 * max(1.0, lhs)


@settings(max_examples=80, deadline=None)
@given(star_poly, star_poly)
def test_difference_area_identity(a, b):
    lhs = ops.area(ops.difference(a, b))
    rhs = ops.area(a) - ops.area(ops.intersection(a, b))
    assert abs(lhs - rhs) < 1e-6 * max(1.0, ops.area(a))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=1, max_value=4),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_rectilinear_union_matches_dissolve(rect_specs):
    gs = [
        (
            "Polygon",
            [ring([(float(x), float(y)), (float(x + w), float(y)),
                   (float(x + w), float(y + h)), (float(x), float(y + h))])],
        )
        for x, y, w, h in rect_specs
    ]
    swept = ops.union_area(gs)          # rect sweep over the decomposition
    dissolved = ops.area(ops.union_dissolve(gs))  # slab-sweep dissection
    assert abs(swept - dissolved) < 1e-6 * max(1.0, swept)


# --- exact area core against an independent line integral --------------------
# covered_area and union_area (both on the slab sweep for these inputs)
# against an area computed with no sweep: the covered length of the
# vertical line at x, integrated over x.


def _covers(g, pt) -> bool:
    return any(ops.point_in_polygon(pt, rings) for rings in ops._polygons(g))


def _line_integral_area(covered, geoms) -> float:
    """∫ covered length dx. x breaks at every vertex and at every
    crossing of two edges (all pairs), so between breaks the covered
    length is linear in x and its value at the mid-x times the width is
    exact. An interval of the mid-x vertical line counts when
    ``covered`` holds at its midpoint (``ops.point_in_polygon``)."""
    segs = [
        (p[:2], q[:2])
        for g in geoms
        for rings in ops._polygons(g)
        for r in rings
        for p, q in zip(r, r[1:])
    ]
    xs = {p[0] for s in segs for p in s}
    for i, (p, q) in enumerate(segs):
        for r, t in segs[i + 1 :]:
            d = (q[0] - p[0]) * (t[1] - r[1]) - (q[1] - p[1]) * (t[0] - r[0])
            if d == 0:
                continue
            u = ((r[0] - p[0]) * (t[1] - r[1]) - (r[1] - p[1]) * (t[0] - r[0])) / d
            v = ((r[0] - p[0]) * (q[1] - p[1]) - (r[1] - p[1]) * (q[0] - p[0])) / d
            if 0 < u < 1 and 0 < v < 1:
                xs.add(p[0] + u * (q[0] - p[0]))
    xs = sorted(xs)
    total = 0.0
    for x0, x1 in zip(xs, xs[1:]):
        xm = (x0 + x1) / 2
        ys = sorted(
            p[1] + (q[1] - p[1]) * (xm - p[0]) / (q[0] - p[0])
            for p, q in segs
            if min(p[0], q[0]) < xm < max(p[0], q[0])
        )
        total += (x1 - x0) * sum(
            b - a for a, b in zip(ys, ys[1:]) if covered((xm, (a + b) / 2))
        )
    return total


def _holed_square(cx, cy, theta, holes):
    """A 10×10 square with 1–2 square holes, rotated by theta."""
    c, s_ = math.cos(theta), math.sin(theta)

    def sq(x0, y0, w):
        return ring([
            (cx + x * c - y * s_, cy + x * s_ + y * c)
            for x, y in ((x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w))
        ])

    spots = ((-4.0, -4.0), (1.0, 0.5))
    return ("Polygon", [sq(-5.0, -5.0, 10.0)] + [sq(x, y, w) for (x, y), w in zip(spots, holes)])


def _vertical_edged(x0, y0, w, a, b, h):
    """A quadrilateral whose left and right edges are vertical."""
    return (
        "Polygon",
        [ring([(x0, y0), (x0 + w, y0 + a), (x0 + w, y0 + a + h), (x0, y0 + b + h)])],
    )


def _dense_record(rec_seed, n_rec, lay_seed, n_lay, i):
    """Record ``i`` of the mixed rect/L fixture and the layer features
    it intersects: the dense dissolve inputs of the spatial tests."""
    from tests.conftest import _random_shapes

    g = ops.make_valid(W.parse_wkb(_random_shapes(rec_seed, n_rec, "mixed")[i]))
    layer = [W.parse_wkb(b) for b in _random_shapes(lay_seed, n_lay, "mixed")]
    return g, [f for f in layer if ops.intersects(g, f)]


_R12 = _dense_record(31, 60, 32, 40, 12)
_R42 = _dense_record(7, 120, 99, 40, 42)
_BOWTIE = ("Polygon", [ring([(0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0)])])
# a repeated vertex and two y values one ulp pair apart
_NEAR_COINCIDENT = (
    "Polygon",
    [ring([
        (80.0, 80.0), (95.0, 80.0), (95.0, 80.0), (95.0, 88.16012852120463),
        (87.5, 88.16012852120461), (87.5, 96.0), (80.0, 96.0),
    ])],
)

# a hole whose left edge spans a subnormal x-extent: its slope overflows
_SUBNORMAL_EDGE = (
    "Polygon",
    [
        ring([(-2.0, -5.0), (8.0, -5.0), (8.0, 5.0), (-2.0, 5.0)]),
        ring([(-1.0, -4.0), (8.9002954341e-313, -4.0), (6.67522157557e-313, -3.0), (-1.0, -3.0)]),
    ],
)

_small = st.floats(min_value=-3.0, max_value=3.0)
area_geom = st.one_of(
    st.builds(
        _star_poly,
        st.lists(_angle_radius, max_size=6, unique_by=lambda t: round(t[0], 3)),
        _small,
        _small,
    ),
    st.builds(
        _holed_square,
        _small,
        _small,
        st.floats(min_value=0.0, max_value=math.pi / 2),
        st.lists(st.floats(min_value=0.5, max_value=3.0), min_size=1, max_size=2),
    ),
    st.builds(
        lambda a, b: ("MultiPolygon", [a[1], b[1]]),
        star_poly,
        st.builds(_star_poly, st.just([]), _small, _small),
    ),
    st.builds(
        _vertical_edged,
        _small,
        _small,
        st.floats(min_value=0.5, max_value=8.0),
        _small,
        _small,
        st.floats(min_value=0.5, max_value=8.0),
    ),
    st.sampled_from([_BOWTIE, _NEAR_COINCIDENT]),
)


@settings(max_examples=100, deadline=None)
@given(area_geom, st.lists(area_geom, min_size=1, max_size=3))
@example(*_R12)
@example(*_R42)
@example(_NEAR_COINCIDENT, [_R12[0], _BOWTIE])
def test_covered_area_matches_line_integral(subject, others):
    got = ops.covered_area(subject, others)
    want = _line_integral_area(
        lambda pt: _covers(subject, pt) and any(_covers(o, pt) for o in others),
        [subject, *others],
    )
    assert abs(got - want) <= 1e-9 * max(1.0, want)


@settings(max_examples=100, deadline=None)
@given(st.lists(area_geom, min_size=1, max_size=4))
@example([ops.intersection(_R12[0], f) for f in _R12[1]])
@example([ops.intersection(_R42[0], f) for f in _R42[1]])
@example([_SUBNORMAL_EDGE, _BOWTIE])
def test_union_area_matches_line_integral(gs):
    got = ops.union_area(gs)
    want = _line_integral_area(lambda pt: any(_covers(g, pt) for g in gs), gs)
    assert abs(got - want) <= 1e-9 * max(1.0, want)


# --- PII regex portability (Java ≡ RE2 ≡ Python re on the chosen subset) ----


@given(
    st.lists(
        st.one_of(
            st.text(
                alphabet="abcdefghijklmnopqrstuvwxyz .,-+()@0123456789",
                min_size=0,
                max_size=24,
            ),
            st.sampled_from(
                [
                    "bob.smith+x@corp.example.io",
                    "10.0.0.1",
                    "192.168.255.254",
                    "+1 (555) 010-1234",
                    "+33601020304",
                    "123456789012",
                    "999888777666555",
                ]
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=30, deadline=None)
def test_pii_counts_match_python_re(spark, parts):
    import re

    from terra_bonobo_nodes_spark.llm import scrub

    text = " ".join(parts)
    df = spark.createDataFrame([(1, text)], "id long, text string")
    row = scrub.pii_counts(df).collect()[0]
    for name, pat in scrub.PII_PATTERNS.items():
        want = len(re.findall(pat, text))
        assert row[f"n_{name}"] == want, (name, text)


# --- boilerplate removal invariants -----------------------------------------


@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=20, deadline=None)
def test_remove_boilerplate_token_subsequence_property(spark, docs_tokens):
    """Surviving text is always an order-preserving subsequence of the
    input tokens, and with an unreachable df threshold it is the exact
    normalized input."""
    from terra_bonobo_nodes_spark.llm import scrub

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in scrub.remove_boilerplate(
            df, "doc_id", "text", para_tokens=3, max_df=len(rows) + 1, out_col="c"
        ).collect()
    }
    for i, toks in enumerate(docs_tokens):
        # df cap unreachable -> nothing removed -> exact reassembly
        assert out[i].c == " ".join(toks)
        assert out[i].n_para == out[i].n_kept


def _morton_ref(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=15, deadline=None)
def test_morton_key_bijective_and_matches_reference(spark, pts):
    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.operators.layout import morton_key

    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", morton_key(F.col("x"), F.col("y"))).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _morton_ref(x, y, 12)
    assert len(set(got.values())) == len(pts)  # injective on the domain


# --- HTTP SQL pagination recovers exactly, any window geometry ----------------


@settings(max_examples=5, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=25),
    batch=st.integers(min_value=1, max_value=7),
    bound=st.integers(min_value=-1, max_value=30),
)
def test_sql_http_pagination_exact_recovery(spark, tmp_path_factory, n_rows, batch, bound):
    import json

    from pyspark.sql import functions as F

    from terra_bonobo_nodes_spark.sources.sql_http import (
        SqlHttpDataSource,
        serve_jsonl_table,
    )

    d = tmp_path_factory.mktemp("prop_sqlhttp")
    path = d / "db.jsonl"
    path.write_text(
        "\n".join(json.dumps({"id": i, "name": f"r{i}"}) for i in range(n_rows))
    )
    base = serve_jsonl_table(str(path), "id")
    spark.dataSource.register(SqlHttpDataSource)
    df = (
        spark.read.format("tbns_sql_http")
        .schema("id BIGINT, name STRING")
        .option("base_url", base)
        .option("id_col", "id")
        .option("batch_size", str(batch))
        .load()
        .where(F.col("id") > bound)
    )
    got = sorted(r["id"] for r in df.collect())
    assert got == [i for i in range(n_rows) if i > bound]


# --- image codecs (round 6: PNG + baseline JPEG) ----------------------------

rgb_image = st.tuples(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.randoms(use_true_random=False),
)


@settings(max_examples=60, deadline=None)
@given(rgb_image, st.integers(min_value=0, max_value=4))
def test_png_roundtrip_any_shape_any_filter(img, filter_type):
    from terra_bonobo_nodes_spark.llm.codecs import decode_png, encode_png

    w, h, rnd = img
    rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    assert decode_png(encode_png(w, h, rgb, filter_type)) == (w, h, rgb)


@settings(max_examples=30, deadline=None)
@given(rgb_image)
def test_jpeg_uniform_blocks_near_exact_any_shape(img):
    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    w, h, rnd = img
    color = [rnd.randrange(256) for _ in range(3)]
    rgb = bytes(color * (w * h))
    dw, dh, out = decode_jpeg(encode_jpeg(w, h, rgb))
    assert (dw, dh) == (w, h)
    assert max(abs(a - b) for a, b in zip(out, rgb)) <= 2


@settings(max_examples=80, deadline=None)
@given(st.integers(min_value=2, max_value=200), st.integers(min_value=0, max_value=4))
def test_truncated_codec_payloads_fail_cleanly(cut, filter_type):
    """Malformed/truncated PNG and JPEG payloads must raise ordinary
    exceptions (parse errors), never hang or corrupt — the property a
    crawl-scale decode stage depends on."""
    from terra_bonobo_nodes_spark.llm.codecs import decode_png, encode_png
    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rgb = bytes(range(48)) * 4  # 8x8
    png = encode_png(8, 8, rgb, filter_type)
    jpg = encode_jpeg(8, 8, rgb)
    for payload, fn in ((png, decode_png), (jpg, decode_jpeg)):
        trunc = payload[: max(2, len(payload) - cut)]
        if trunc == payload:
            continue
        try:
            w, h, out = fn(trunc)
        except (ValueError, NotImplementedError, IndexError, struct.error, KeyError):
            continue  # clean parse failure
        # shallow cuts (trailing IEND/EOI/CRC bytes) may still decode —
        # then the result must be fully shape-consistent, never garbage
        assert (w, h) == (8, 8) and len(out) == 8 * 8 * 3


import struct  # noqa: E402  (used by the truncation property)


# --- round 7: progressive JPEG + sub-byte PNG properties ---------------------


@settings(max_examples=30, deadline=None)
@given(rgb_image, st.sampled_from(["444", "422", "420", "gray"]))
def test_progressive_equals_baseline_any_shape(img, sub):
    """The invariant that makes progressive trustworthy: for ANY image,
    size, and subsampling, the multi-scan decode reconstructs exactly
    the coefficients the single-scan decode does."""
    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    w, h, rnd = img
    rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    assert decode_jpeg(
        encode_jpeg(w, h, rgb, subsampling=sub, progressive=True)
    ) == decode_jpeg(encode_jpeg(w, h, rgb, subsampling=sub))


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=12),
    st.sampled_from([1, 2, 4]),
    st.sampled_from([0, 2]),
    st.randoms(use_true_random=False),
)
def test_png_subbyte_roundtrip_any_shape(w, h, depth, ft, rnd):
    """Sub-byte gray PNGs round-trip exactly (scaled by 255/(2^d-1))
    for any shape — row bit-padding is the property under test."""
    import numpy as np

    from terra_bonobo_nodes_spark.llm.codecs import decode_png, encode_png_subbyte

    samples = [rnd.randrange(1 << depth) for _ in range(w * h)]
    dw, dh, rgb = decode_png(encode_png_subbyte(w, h, samples, depth, filter_type=ft))
    assert (dw, dh) == (w, h)
    scale = 255 // ((1 << depth) - 1)
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    assert (a[..., 0] == np.array(samples, dtype=np.uint8).reshape(h, w) * scale).all()


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=2, max_value=250))
def test_truncated_progressive_jpeg_fails_cleanly(cut):
    """Truncation anywhere in a multi-scan file must raise an ordinary
    parse error (or decode shape-consistently for trailing-byte cuts) —
    same contract as the baseline truncation property."""
    from terra_bonobo_nodes_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rgb = bytes(range(48)) * 4  # 8x8
    payload = encode_jpeg(8, 8, rgb, progressive=True)
    trunc = payload[: max(2, len(payload) - cut)]
    if trunc == payload:
        return
    try:
        w, h, out = decode_jpeg(trunc)
    except (ValueError, NotImplementedError, IndexError, struct.error, KeyError):
        return
    assert (w, h) == (8, 8) and len(out) == 8 * 8 * 3


# --- pure-Python: token hashing ----------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80), st.integers(min_value=1, max_value=4096))
def test_token_hash_ids_bounds_and_stability(text, dim):
    from terra_bonobo_nodes_spark.llm.classifier import _token_hash_ids

    ids = _token_hash_ids(text, dim)
    assert ids == _token_hash_ids(text, dim)  # stable (no process salt)
    assert all(0 <= i < dim for i in ids)
    assert len(ids) == len(str(text).lower().split())


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=64))
def test_token_hash_ids_null_is_empty(dim):
    from terra_bonobo_nodes_spark.llm.classifier import _token_hash_ids

    assert _token_hash_ids(None, dim) == []
    assert _token_hash_ids(float("nan"), dim) == []


# --- Spark: classifier parity on random data ----------------------------------


@settings(max_examples=5, deadline=None)
@given(data=st.data())
def test_classifier_matches_reference_on_random_data(spark, data):
    from terra_bonobo_nodes_spark.llm.classifier import train_quality_logreg

    n = data.draw(st.integers(min_value=3, max_value=12))
    rows = [
        (
            data.draw(st.floats(-5, 5, allow_nan=False)),
            data.draw(st.floats(-5, 5, allow_nan=False)),
            data.draw(st.integers(0, 1)),
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "x1 DOUBLE, x2 DOUBLE, label INT")
    model = train_quality_logreg(df, ["x1", "x2"], iterations=3, lr=0.5)

    X = np.array([r[:2] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    m, s = X.mean(axis=0), np.maximum(X.std(axis=0), 1e-12)
    Xs = (X - m) / s
    w, b = np.zeros(2), 0.0
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(Xs @ w + b)))
        r = p - y
        b -= 0.5 * r.mean()
        w -= 0.5 * (Xs * r[:, None]).mean(axis=0)
    assert np.allclose(model.weights, w, rtol=1e-8, atol=1e-10)
    assert math.isclose(model.bias, b, rel_tol=1e-8, abs_tol=1e-10)


# --- Spark: SemDeDup verdict invariants ---------------------------------------


@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_semdedup_verdict_invariants(spark, data):
    """Whatever the corpus: exactly one verdict row per input id,
    exactly one survivor per component, and every component id is one
    of its member ids."""
    from terra_bonobo_nodes_spark.llm.semdedup import semantic_dedup

    n = data.draw(st.integers(min_value=1, max_value=12))
    dim = 3
    rows = [
        (
            i,
            [
                data.draw(st.floats(-2, 2, allow_nan=False)) + 0.001
                for _ in range(dim)
            ],
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = semantic_dedup(df, n_clusters=4, threshold=0.98).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(n))  # one verdict each
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r["component_id"], []).append(r)
    for comp_id, members in by_comp.items():
        assert sum(m["is_kept"] for m in members) == 1  # one survivor
        assert comp_id in {m["vec_id"] for m in members}  # label is a member


# --- from-spec codecs under random inputs -------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(
                min_value=-180, max_value=180, allow_nan=False, width=64
            ),
            st.floats(min_value=-90, max_value=90, allow_nan=False, width=64),
            st.integers(min_value=-(10 ** 15), max_value=10 ** 15),
            st.text(
                alphabet=st.characters(
                    min_codepoint=32, max_codepoint=126, exclude_characters=""
                ),
                max_size=20,
            ),
        ),
        max_size=25,
    )
)
def test_shp_codec_roundtrips_any_point_set(rows):
    """write_point_shapefile_zip ∘ read_point_shapefile_zip is the
    identity on any point set in the supported profile: coordinates
    bit-exact (binary doubles), 'N'/'C' attributes back as their str()
    text, record order preserved, archives deterministic."""
    from terra_bonobo_nodes_spark.sources.shp_codec import (
        read_point_shapefile_zip,
        write_point_shapefile_zip,
    )

    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]
    attrs = {"k": [r[2] for r in rows], "s": [r[3].strip() for r in rows]}
    z = write_point_shapefile_zip(xs, ys, attrs)
    assert z == write_point_shapefile_zip(xs, ys, attrs)
    feats = read_point_shapefile_zip(z)
    assert [(f["x"], f["y"]) for f in feats] == list(zip(xs, ys))
    assert [f["attrs"]["k"] for f in feats] == [str(v) for v in attrs["k"]]
    # DBF 'C' storage is space-padded text, so values strip-roundtrip
    assert [f["attrs"]["s"] for f in feats] == [v.strip() for v in attrs["s"]]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10 ** 9),
            st.floats(min_value=-90, max_value=90, allow_nan=False),
            st.floats(min_value=-180, max_value=180, allow_nan=False),
            st.booleans(),  # tagged?
        ),
        max_size=15,
    )
)
def test_osm_points_runner_on_random_node_sets(nodes):
    """Random node soups: exactly the TAGGED nodes come back as Point
    features (ogr2ogr's points-layer rule), coordinates exact through
    repr -> JSON, tag text preserved."""
    import json as _json

    from terra_bonobo_nodes_spark.sources.osm import (
        build_ogr2ogr_command,
        osm_points_geojson_runner,
    )

    xml = "<osm>" + "".join(
        f'<node id="{i}" lat="{lat!r}" lon="{lon!r}">'
        + (f'<tag k="n" v="t{i}"/>' if tagged else "")
        + "</node>"
        for i, (nid, lat, lon, tagged) in enumerate(nodes)
    ) + "</osm>"
    doc = _json.loads(
        osm_points_geojson_runner(
            build_ogr2ogr_command("/x.osm", "points"), xml.encode()
        )
    )
    want = [
        (str(i), [lon, lat], {"n": f"t{i}"})
        for i, (nid, lat, lon, tagged) in enumerate(nodes)
        if tagged
    ]
    got = [
        (f["id"], f["geometry"]["coordinates"], f["properties"])
        for f in doc["features"]
    ]
    assert got == want
