"""Property-based tests (hypothesis) for the pure-Python layers: the
geometry codecs must round-trip arbitrary valid shapes, and the dedup
hashing primitives must hold their algebraic invariants. These run
without a SparkSession — they pin the kernel math the pandas UDFs wrap."""

from __future__ import annotations

import math

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
def test_triangulation_preserves_area(p):
    tris = ops.triangulate([p[1]])
    total = sum(abs(ops._ring_area2(t)) / 2 for t in tris)
    assert abs(total - ops.area(p)) < 1e-6 * max(1.0, ops.area(p))


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
    dissolved = ops.area(ops.union_dissolve(gs))  # difference-fold overlay
    assert abs(swept - dissolved) < 1e-6 * max(1.0, swept)


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
