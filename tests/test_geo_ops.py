"""Unit tests for the pure-Python geometry kernel (no Spark).

Mirrors the reference's per-node geometry tests (SURVEY.md §5) plus
codec round-trips and overlay invariants.
"""

from __future__ import annotations

import json
import math

import pytest

from terra_bonobo_nodes_spark.geo import ops
from terra_bonobo_nodes_spark.geo import wkb as W

SQUARE = ("Polygon", [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]])
SQUARE_HOLE = (
    "Polygon",
    [
        [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
        [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)],
    ],
)
LSHAPE = (
    "Polygon",
    [[(0.0, 0.0), (3.0, 0.0), (3.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0), (0.0, 0.0)]],
)


class TestCodecs:
    @pytest.mark.parametrize(
        "g",
        [
            ("Point", (1.5, -2.5)),
            ("Point", (1.0, 2.0, 3.0)),
            W.POINT_EMPTY,
            ("LineString", [(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)]),
            SQUARE,
            SQUARE_HOLE,
            ("MultiPoint", [(0.0, 0.0), (1.0, 1.0)]),
            ("MultiLineString", [[(0.0, 0.0), (1.0, 0.0)], [(2.0, 2.0), (3.0, 3.0)]]),
            ("MultiPolygon", [SQUARE[1], [[(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 10.0)]]]),
            ("GeometryCollection", [("Point", (1.0, 2.0)), SQUARE]),
        ],
    )
    def test_wkb_roundtrip(self, g):
        back = W.parse_wkb(W.write_wkb(g))
        if g[0] == "Point" and W.is_empty(g):
            assert W.is_empty(back)
        else:
            assert back == g

    @pytest.mark.parametrize(
        "g",
        [
            ("Point", (1.5, -2.5)),
            ("LineString", [(0.0, 0.0), (1.0, 1.0)]),
            SQUARE_HOLE,
            ("MultiPoint", [(0.0, 0.0), (1.0, 1.0)]),
            ("MultiPolygon", [SQUARE[1]]),
            ("GeometryCollection", [("Point", (1.0, 2.0)), SQUARE]),
        ],
    )
    def test_wkt_roundtrip(self, g):
        assert W.parse_wkt(W.write_wkt(g)) == g

    def test_wkt_empty(self):
        assert W.write_wkt(W.POINT_EMPTY) == "POINT EMPTY"
        assert W.is_empty(W.parse_wkt("POINT EMPTY"))
        assert W.parse_wkt("POLYGON EMPTY") == ("Polygon", [])

    def test_wkt_malformed_raises(self):
        with pytest.raises(ValueError):
            W.parse_wkt("NOT A GEOM (1 2)")

    def test_geojson_roundtrip(self):
        for g in [("Point", (1.0, 2.0)), SQUARE, ("MultiPoint", [(0.0, 1.0)])]:
            s = json.dumps(W.to_geojson(g))
            assert W.from_geojson(s) == g


class TestMeasures:
    def test_area(self):
        assert ops.area(SQUARE) == 16.0
        assert ops.area(SQUARE_HOLE) == 15.0
        assert ops.area(LSHAPE) == 5.0
        assert ops.area(("Point", (1.0, 1.0))) == 0.0
        assert ops.area(W.POINT_EMPTY) == 0.0

    def test_centroid(self):
        assert ops.centroid(SQUARE) == ("Point", (2.0, 2.0))
        cx, cy = ops.centroid(("MultiPoint", [(0.0, 0.0), (2.0, 4.0)]))[1]
        assert (cx, cy) == (1.0, 2.0)
        # line centroid: length-weighted
        cx, cy = ops.centroid(("LineString", [(0.0, 0.0), (2.0, 0.0)]))[1]
        assert (cx, cy) == (1.0, 0.0)
        # hole pulls centroid away symmetrically -> still center for symmetric hole
        sym_hole = (
            "Polygon",
            [
                SQUARE[1][0],
                [(1.5, 1.5), (1.5, 2.5), (2.5, 2.5), (2.5, 1.5), (1.5, 1.5)],
            ],
        )
        cx, cy = ops.centroid(sym_hole)[1]
        assert abs(cx - 2.0) < 1e-12 and abs(cy - 2.0) < 1e-12

    def test_length(self):
        assert ops.length(("LineString", [(0.0, 0.0), (3.0, 4.0)])) == 5.0

    def test_distance(self):
        assert ops.distance(("Point", (0.0, 0.0)), ("Point", (3.0, 4.0))) == 5.0
        assert ops.distance(("Point", (2.0, 2.0)), SQUARE) == 0.0  # inside
        assert ops.distance(("Point", (5.0, 4.0)), SQUARE) == 1.0  # right of edge
        seg = ("LineString", [(0.0, 10.0), (10.0, 10.0)])
        assert ops.distance(seg, SQUARE) == 6.0
        assert ops.distance(W.POINT_EMPTY, SQUARE) is None


class TestPredicates:
    def test_point_in_polygon(self):
        assert ops.point_in_polygon((2.0, 2.0), SQUARE[1])
        assert not ops.point_in_polygon((5.0, 2.0), SQUARE[1])
        assert ops.point_in_polygon((0.0, 0.0), SQUARE[1])  # vertex = boundary
        assert ops.point_in_polygon((2.0, 0.0), SQUARE[1])  # edge
        assert not ops.point_in_polygon((1.5, 1.5), SQUARE_HOLE[1])  # in hole
        assert ops.point_in_polygon((1.0, 1.5), SQUARE_HOLE[1])  # on hole edge

    def test_intersects(self):
        assert ops.intersects(("Point", (1.0, 1.0)), SQUARE)
        assert not ops.intersects(("Point", (9.0, 9.0)), SQUARE)
        other = ("Polygon", [[(3.0, 3.0), (6.0, 3.0), (6.0, 6.0), (3.0, 6.0), (3.0, 3.0)]])
        assert ops.intersects(SQUARE, other)
        far = ("Polygon", [[(9.0, 9.0), (10.0, 9.0), (10.0, 10.0), (9.0, 9.0)]])
        assert not ops.intersects(SQUARE, far)
        # polygon fully containing another: no edge crossings
        inner = ("Polygon", [[(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)]])
        assert ops.intersects(SQUARE, inner)
        assert ops.intersects(inner, SQUARE)
        # crossing linestring
        line = ("LineString", [(-1.0, 2.0), (5.0, 2.0)])
        assert ops.intersects(line, SQUARE)
        assert not ops.intersects(W.POINT_EMPTY, SQUARE)

    def test_point_point(self):
        assert ops.intersects(("Point", (1.0, 1.0)), ("MultiPoint", [(0.0, 0.0), (1.0, 1.0)]))
        assert not ops.intersects(("Point", (1.0, 1.0)), ("Point", (1.0, 1.1)))


class TestOverlay:
    def test_intersection_rect_clip(self):
        rect = ("Polygon", [[(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0), (2.0, 2.0)]])
        out = ops.intersection(SQUARE, rect)
        assert out[0] == "Polygon"
        assert abs(ops.area(out) - 4.0) < 1e-12  # overlap is 2x2

    def test_intersection_concave_subject(self):
        rect = ("Polygon", [[(0.5, 0.5), (2.0, 0.5), (2.0, 2.0), (0.5, 2.0), (0.5, 0.5)]])
        out = ops.intersection(LSHAPE, rect)
        # L-shape ∩ rect: area = full rect minus the notch part
        # L covers x in [0,3]×[0,1] and [0,1]×[0,3]; rect [0.5,2]^2
        # overlap = (1.5×0.5 strip) + (0.5×1.5 vertical) + ... compute:
        # region y in [0.5,1]: x 0.5..2 -> 0.75 ; y in [1,2]: x 0.5..1 -> 0.5
        assert abs(ops.area(out) - 1.25) < 1e-9

    def test_intersection_disjoint_empty(self):
        far = ("Polygon", [[(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0), (10.0, 10.0)]])
        assert W.is_empty(ops.intersection(SQUARE, far))

    def test_intersection_point(self):
        assert ops.intersection(("Point", (1.0, 1.0)), SQUARE) == ("Point", (1.0, 1.0))
        assert W.is_empty(ops.intersection(("Point", (9.0, 9.0)), SQUARE))

    def test_intersection_concave_concave(self):
        # l2 is concave (slanted left edge) and sits inside LSHAPE, and
        # neither side is convex, so the general slab-sweep overlay must
        # return exactly area(l2)
        l2 = ("Polygon", [[(0.0, 0.0), (3.0, 0.0), (3.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.5, 3.0), (0.0, 0.0)]])
        assert abs(ops.area(l2) - 4.25) < 1e-12
        assert abs(ops.area(ops.intersection(LSHAPE, l2)) - 4.25) < 1e-9

    def test_difference_hole(self):
        inner = ("Polygon", [[(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)]])
        out = ops.difference(SQUARE, inner)
        assert out[0] == "Polygon" and len(out[1]) == 2
        assert abs(ops.area(out) - 15.0) < 1e-12

    def test_difference_disjoint(self):
        far = ("Polygon", [[(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0), (10.0, 10.0)]])
        assert ops.difference(SQUARE, far) == SQUARE

    def test_difference_contained(self):
        big = ("Polygon", [[(-1.0, -1.0), (5.0, -1.0), (5.0, 5.0), (-1.0, 5.0), (-1.0, -1.0)]])
        assert W.is_empty(ops.difference(SQUARE, big))

    def test_difference_points(self):
        mp = ("MultiPoint", [(1.0, 1.0), (9.0, 9.0)])
        assert ops.difference(mp, SQUARE) == ("Point", (9.0, 9.0))

    def test_union_collect(self):
        u = ops.union_collect([("Point", (0.0, 0.0)), ("Point", (1.0, 1.0))])
        assert u == ("MultiPoint", [(0.0, 0.0), (1.0, 1.0)])
        u2 = ops.union_collect([SQUARE, ("Point", (0.0, 0.0))])
        assert u2[0] == "GeometryCollection"
        assert W.is_empty(ops.union_collect([None, W.POINT_EMPTY]))


class TestTransforms:
    def test_simplify_collinear(self):
        line = ("LineString", [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)])
        assert ops.simplify(line, 0.0) == ("LineString", [(0.0, 0.0), (3.0, 0.0)])

    def test_simplify_tolerance(self):
        line = ("LineString", [(0.0, 0.0), (1.0, 0.4), (2.0, 0.0)])
        assert ops.simplify(line, 0.5) == ("LineString", [(0.0, 0.0), (2.0, 0.0)])
        assert len(ops.simplify(line, 0.1)[1]) == 3

    def test_transform_roundtrip(self):
        g = ("Point", (2.3488, 48.8534))  # Paris
        merc = ops.transform(g, "EPSG:4326", "EPSG:3857")
        assert abs(merc[1][0] - 261473.0) < 100  # known web-mercator x
        back = ops.transform(merc, "EPSG:3857", "EPSG:4326")
        assert abs(back[1][0] - g[1][0]) < 1e-9
        assert abs(back[1][1] - g[1][1]) < 1e-9

    def test_transform_unknown_raises(self):
        with pytest.raises(NotImplementedError):
            ops.transform(("Point", (0.0, 0.0)), "EPSG:4326", "EPSG:27572")

    def test_transform_lambert93_known_point(self):
        # Paris (2.3522E, 48.8566N) in EPSG:2154 — reference value from
        # the published Lambert-93 definition (Snyder closed form):
        # ~ (652469.0, 6862035.3), tolerance 1 m.
        g = ops.transform(("Point", (2.3522, 48.8566)), "4326", "2154")
        x, y = g[1]
        assert abs(x - 652469.0) < 1.0 and abs(y - 6862035.0) < 2.0

    def test_transform_lambert93_roundtrip(self):
        for lon, lat in [(2.35, 48.85), (-1.55, 47.22), (7.75, 48.58), (3.0, 46.5)]:
            g = ops.transform(("Point", (lon, lat)), "4326", "2154")
            back = ops.transform(g, "2154", "4326")
            assert abs(back[1][0] - lon) < 1e-9 and abs(back[1][1] - lat) < 1e-9

    def test_force_2d(self):
        assert ops.force_2d(("Point", (1.0, 2.0, 3.0))) == ("Point", (1.0, 2.0))

    def test_snap_to_grid(self):
        assert ops.snap_to_grid(("Point", (13.7, -2.1)), 5.0) == ("Point", (10.0, -5.0))

    def test_make_valid(self):
        unclosed = ("Polygon", [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]])
        fixed = ops.make_valid(unclosed)
        assert fixed[1][0][0] == fixed[1][0][-1]
        dup = ("Polygon", [[(0.0, 0.0), (0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]])
        assert len(ops.make_valid(dup)[1][0]) == 4

    def test_subdivide_preserves_area(self):
        # 64-vertex ring around a circle, max 16 vertices per part
        n = 64
        ring = [
            (math.cos(2 * math.pi * i / n) * 10, math.sin(2 * math.pi * i / n) * 10)
            for i in range(n)
        ]
        ring.append(ring[0])
        poly = ("Polygon", [ring])
        parts = ops.subdivide(poly, 16)
        assert len(parts) > 1
        total = math.fsum(ops.area(p) for p in parts)
        assert abs(total - ops.area(poly)) < 1e-6

    def test_envelope(self):
        env = ops.envelope(("LineString", [(1.0, 2.0), (3.0, 5.0)]))
        assert ops.area(env) == 6.0


def test_rect_fast_path_matches_general_clip():
    from terra_bonobo_nodes_spark.geo import ops

    def rect(x0, y0, x1, y1):
        return ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])

    a = rect(0.0, 0.0, 6.0, 6.0)
    b = rect(4.0, 4.0, 14.0, 14.0)
    assert ops.as_axis_rect(a) == (0.0, 0.0, 6.0, 6.0)
    fast = ops.intersection_area(a, b)
    general = ops.area(ops.intersection(a, b))
    assert abs(fast - general) < 1e-9
    assert fast == 4.0
    # disjoint -> 0, containment -> inner area
    assert ops.intersection_area(a, rect(10, 10, 12, 12)) == 0.0
    assert ops.intersection_area(rect(1, 1, 2, 2), a) == 1.0
    # non-rectangles fall back to the general path
    tri = ("Polygon", [[(0.0, 0.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)]])
    assert ops.as_axis_rect(tri) is None
    assert ops.intersection_area(tri, a) == ops.area(ops.intersection(tri, a))
    # rotated square has 2 distinct xs/ys per vertex -> not axis-aligned
    rot = ("Polygon", [[(1.0, 0.0), (2.0, 1.0), (1.0, 2.0), (0.0, 1.0), (1.0, 0.0)]])
    assert ops.as_axis_rect(rot) is None


def _rect(x0, y0, x1, y1):
    return ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])


def _ell(cx, cy):
    """Concave L at (cx, cy): 2x1 base + 1x1 top-left tower, area 3."""
    return (
        "Polygon",
        [[
            (cx, cy), (cx + 2, cy), (cx + 2, cy + 1), (cx + 1, cy + 1),
            (cx + 1, cy + 2), (cx, cy + 2), (cx, cy),
        ]],
    )


class TestDissection:
    """union_dissolve of one polygon is its slab-sweep dissection:
    convex pieces whose areas sum to the polygon's, holes subtracted."""

    @staticmethod
    def _dissected_area(rings):
        pieces = list(ops._polygons(ops.union_dissolve([("Polygon", rings)])))
        assert all(len(p) == 1 and ops.is_convex(p[0]) for p in pieces)
        return sum(abs(ops._ring_area2(p[0])) / 2 for p in pieces)

    def test_convex(self):
        assert abs(self._dissected_area(_rect(0, 0, 4, 2)[1]) - 8.0) < 1e-9

    def test_concave(self):
        assert abs(self._dissected_area(_ell(0, 0)[1]) - 3.0) < 1e-9

    def test_with_hole(self):
        rings = [_rect(0, 0, 10, 10)[1][0], _rect(3, 3, 5, 5)[1][0]]
        assert abs(self._dissected_area(rings) - 96.0) < 1e-9

    def test_two_holes(self):
        rings = [
            _rect(0, 0, 10, 10)[1][0],
            _rect(1, 1, 2, 2)[1][0],
            _rect(6, 4, 8, 7)[1][0],
        ]
        assert abs(self._dissected_area(rings) - (100.0 - 1.0 - 6.0)) < 1e-9


class TestGeneralOverlay:
    def test_concave_concave_intersection_area(self):
        # two Ls overlapping: analytic overlap computed from their
        # component rects: L(0,0)=base [0,2]x[0,1] + tower [0,1]x[1,2];
        # L(1,0): base [1,3]x[0,1] + tower [1,2]x[1,2]
        a, b = _ell(0, 0), _ell(1, 0)
        expect = 1.0 + 0.0 + 0.0 + 0.0  # base∩base=[1,2]x[0,1]; towers disjoint
        got = ops.area(ops.intersection(a, b))
        assert abs(got - expect) < 1e-9

    def test_concave_concave_overlapping_towers(self):
        a, b = _ell(0, 0), _ell(0.5, 0.5)
        # components: a_base [0,2]x[0,1], a_tow [0,1]x[1,2],
        #             b_base [.5,2.5]x[.5,1.5], b_tow [.5,1.5]x[1.5,2.5]
        expect = (
            (2 - 0.5) * (1 - 0.5)          # a_base ∩ b_base
            + (1 - 0.5) * (1.5 - 1)        # a_tow ∩ b_base
            + (1 - 0.5) * (2 - 1.5)        # a_tow ∩ b_tow
        )
        got = ops.area(ops.intersection(a, b))
        assert abs(got - expect) < 1e-9
        # symmetric
        assert abs(ops.area(ops.intersection(b, a)) - expect) < 1e-9

    def test_concave_with_hole_intersection(self):
        donut = ("Polygon", [_rect(0, 0, 6, 6)[1][0], _rect(2, 2, 4, 4)[1][0]])
        ell = _ell(1, 1)  # area-3 L inside the donut region, overlapping hole
        # L components: base [1,3]x[1,2] + tower [1,2]x[2,3]
        # hole [2,4]x[2,4] removes base∩hole=0 ([1,3]x[1,2] vs y>=2 → line)
        # and tower∩hole=[2,2]x... tower x in [1,2] touches hole x>=2 → 0
        expect = 3.0
        got = ops.area(ops.intersection(donut, ell))
        assert abs(got - expect) < 1e-9
        # shift the L so it dips into the hole
        ell2 = _ell(2, 2)  # base [2,4]x[2,3], tower [2,3]x[3,4] — fully in hole
        assert abs(ops.area(ops.intersection(donut, ell2))) < 1e-9

    def test_difference_partial_overlap(self):
        a, b = _rect(0, 0, 4, 4), _rect(2, 2, 6, 6)
        got = ops.area(ops.difference(a, b))
        assert abs(got - (16.0 - 4.0)) < 1e-9

    def test_difference_concave(self):
        a, b = _ell(0, 0), _rect(0, 0, 1, 1)
        got = ops.area(ops.difference(a, b))
        assert abs(got - 2.0) < 1e-9

    def test_difference_b_with_hole(self):
        # subtracting a donut keeps the donut's hole region of a
        donut = ("Polygon", [_rect(1, 1, 5, 5)[1][0], _rect(2, 2, 4, 4)[1][0]])
        a = _rect(0, 0, 6, 6)
        got = ops.area(ops.difference(a, donut))
        assert abs(got - (36.0 - 12.0)) < 1e-9

    def test_difference_area_identity(self):
        # area(a \ b) == area(a) - area(a ∩ b) for assorted pairs
        pairs = [
            (_ell(0, 0), _ell(0.5, 0.25)),
            (_rect(0, 0, 3, 3), _ell(1, 1)),
            (_ell(0, 0), _rect(-1, -1, 0.75, 0.75)),
        ]
        for a, b in pairs:
            lhs = ops.area(ops.difference(a, b))
            rhs = ops.area(a) - ops.area(ops.intersection(a, b))
            assert abs(lhs - rhs) < 1e-9, (a, b, lhs, rhs)


class TestRectilinearDecomposition:
    def test_rect(self):
        assert sorted(ops.rectilinear_rects(_rect(0, 0, 2, 3))) == [(0, 0, 2, 3)]

    def test_ell(self):
        rects = ops.rectilinear_rects(_ell(0, 0))
        total = sum((x1 - x0) * (y1 - y0) for x0, y0, x1, y1 in rects)
        assert abs(total - 3.0) < 1e-12

    def test_with_hole(self):
        g = ("Polygon", [_rect(0, 0, 10, 10)[1][0], _rect(3, 3, 5, 5)[1][0]])
        rects = ops.rectilinear_rects(g)
        total = sum((x1 - x0) * (y1 - y0) for x0, y0, x1, y1 in rects)
        assert abs(total - 96.0) < 1e-12

    def test_non_rectilinear(self):
        tri = ("Polygon", [[(0.0, 0.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)]])
        assert ops.rectilinear_rects(tri) is None
        # and the negative result is cached without poisoning positives
        assert ops.rectilinear_rects(tri) is None
        assert ops.rectilinear_rects(_ell(0, 0)) is not None

    def test_area_agrees_with_general_overlay(self):
        a, b = _ell(0, 0), _ell(0.5, 0.5)
        fast = ops.intersection_area(a, b)
        general = ops.area(ops.intersection(a, b))
        assert abs(fast - general) < 1e-9


class TestUnionDissolve:
    def test_disjoint(self):
        gs = [_rect(0, 0, 1, 1), _rect(5, 5, 6, 6)]
        assert abs(ops.area(ops.union_dissolve(gs)) - 2.0) < 1e-9
        assert abs(ops.union_area(gs) - 2.0) < 1e-12

    def test_overlapping(self):
        gs = [_rect(0, 0, 2, 2), _rect(1, 1, 3, 3)]
        # union = 4 + 4 - 1
        assert abs(ops.area(ops.union_dissolve(gs)) - 7.0) < 1e-9
        assert abs(ops.union_area(gs) - 7.0) < 1e-12

    def test_identical(self):
        gs = [_rect(0, 0, 2, 2)] * 3
        assert abs(ops.union_area(gs) - 4.0) < 1e-12
        assert abs(ops.area(ops.union_dissolve(gs)) - 4.0) < 1e-9

    def test_chain_overlap(self):
        gs = [_rect(i, 0, i + 2, 2) for i in range(5)]  # 2x2 at x=0..4
        # covers [0,6]x[0,2] = 12
        assert abs(ops.union_area(gs) - 12.0) < 1e-12
        assert abs(ops.area(ops.union_dissolve(gs)) - 12.0) < 1e-9

    def test_concave_members(self):
        gs = [_ell(0, 0), _ell(1, 0)]
        # L(0,0)∩L(1,0) area 1 (bases overlap on [1,2]x[0,1])
        expect = 3.0 + 3.0 - 1.0
        assert abs(ops.union_area(gs) - expect) < 1e-12
        assert abs(ops.area(ops.union_dissolve(gs)) - expect) < 1e-9

    def test_non_rectilinear_falls_back(self):
        tri = ("Polygon", [[(0.0, 0.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]])
        gs = [tri, _rect(10, 10, 11, 11)]
        assert abs(ops.union_area(gs) - 3.0) < 1e-9
        # overlapping triangle + rect through the dissolve path
        gs2 = [tri, _rect(0, 0, 1, 1)]
        # overlap = tri∩rect: area of triangle clipped to unit square =
        # 1 - 0.5*0.5*... region x+y<=2 within [0,1]^2 is the whole
        # square except nothing (x+y max 2 at corner) -> tri∩rect = 1.0
        # minus the corner above x+y=2? x+y<=2 holds everywhere in the
        # unit square, so overlap = 1.0; union = 2 + 1 - 1 = 2
        assert abs(ops.union_area(gs2) - 2.0) < 1e-9

    def test_points_fall_back_to_collect(self):
        gs = [("Point", (1.0, 1.0)), ("Point", (2.0, 2.0))]
        out = ops.union_dissolve(gs)
        assert out[0] == "MultiPoint"


class TestLineClip:
    def test_line_through_square(self):
        line = ("LineString", [(-2.0, 2.0), (6.0, 2.0)])
        out = ops.intersection(line, SQUARE)
        assert out[0] == "LineString"
        assert abs(ops.length(out) - 4.0) < 1e-9
        diff = ops.difference(line, SQUARE)
        assert abs(ops.length(diff) - 4.0) < 1e-9  # 2 outside each side

    def test_line_into_square(self):
        line = ("LineString", [(2.0, 2.0), (10.0, 2.0)])  # starts inside
        out = ops.intersection(line, SQUARE)
        assert abs(ops.length(out) - 2.0) < 1e-9
        assert abs(ops.length(ops.difference(line, SQUARE)) - 6.0) < 1e-9

    def test_line_misses(self):
        line = ("LineString", [(10.0, 10.0), (12.0, 10.0)])
        assert W.is_empty(ops.intersection(line, SQUARE))
        assert ops.difference(line, SQUARE) == line

    def test_line_through_hole(self):
        # crosses the 1x1 hole of SQUARE_HOLE: inside length = 4 - 1
        line = ("LineString", [(-1.0, 1.5), (5.0, 1.5)])
        out = ops.intersection(line, SQUARE_HOLE)
        assert out[0] == "MultiLineString"
        assert abs(ops.length(out) - 3.0) < 1e-9

    def test_line_concave(self):
        # horizontal chord through LSHAPE at y=0.5: inside x in [0,3]
        line = ("LineString", [(-1.0, 0.5), (4.0, 0.5)])
        assert abs(ops.length(ops.intersection(line, LSHAPE)) - 3.0) < 1e-9
        # at y=2: only the tower x in [0,1]
        line2 = ("LineString", [(-1.0, 2.0), (4.0, 2.0)])
        assert abs(ops.length(ops.intersection(line2, LSHAPE)) - 1.0) < 1e-9

    def test_polyline_multi_segment(self):
        line = ("LineString", [(-1.0, 2.0), (2.0, 2.0), (2.0, 8.0)])
        out = ops.intersection(line, SQUARE)
        # first seg inside [0,2] len 2; second seg inside y [2,4] len 2,
        # and they join at (2,2) -> single path of length 4
        assert abs(ops.length(out) - 4.0) < 1e-9
        assert out[0] == "LineString"

    def test_multilinestring(self):
        ml = ("MultiLineString", [[(-1.0, 1.0), (5.0, 1.0)], [(-1.0, 3.0), (5.0, 3.0)]])
        out = ops.intersection(ml, SQUARE)
        assert abs(ops.length(out) - 8.0) < 1e-9


def test_union_dissolve_many_overlapping_nonrectilinear():
    """4 overlapping concave members (7-point stars) dissolve in one
    slab sweep: the union lies between the largest member and the sum,
    and above the pairwise inclusion-exclusion bound."""
    import math

    def star(cx, cy, n=7, r1=1.0, r2=2.0):
        pts = []
        for i in range(n * 2):
            a = math.pi * i / n
            r = r1 if i % 2 else r2
            pts.append((cx + r * math.cos(a), cy + r * math.sin(a)))
        return ("Polygon", [pts + [pts[0]]])

    gs = [star(0, 0), star(1.0, 0.5), star(0.5, 1.2), star(-0.5, 0.8)]
    u = ops.union_dissolve(gs)
    got = ops.area(u)
    singles = [ops.area(g) for g in gs]
    assert max(singles) - 1e-9 <= got <= sum(singles) + 1e-9
    # strictly less than the sum (members genuinely overlap)
    assert got < sum(singles) - 1.0
    # pairwise inclusion-exclusion lower bound: union >= sum - pairwise overlaps
    pair_overlap = sum(
        ops.area(ops.intersection(a, b))
        for i, a in enumerate(gs)
        for b in gs[i + 1 :]
    )
    assert got >= sum(singles) - pair_overlap - 1e-6


class TestTransverseMercator:
    """UTM / OSGB via the Krüger series (Karney 2011). Cross-checked
    against an independently-derived series (Snyder 1987 §8, 4th order
    in e^2) — two different published derivations agreeing to mm
    validates both beyond roundtrip/symmetry self-consistency."""

    @staticmethod
    def _snyder_tm(lon, lat, lon0, a=6378137.0, inv_f=298.257223563,
                   k0=0.9996, x0=500000.0, y0=0.0):
        import math

        f = 1.0 / inv_f
        e2 = 2 * f - f * f
        ep2 = e2 / (1 - e2)
        phi, lam = math.radians(lat), math.radians(lon - lon0)
        N = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        T = math.tan(phi) ** 2
        C = ep2 * math.cos(phi) ** 2
        A = lam * math.cos(phi)
        M = a * (
            (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
            - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * math.sin(2 * phi)
            + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * math.sin(4 * phi)
            - (35 * e2**3 / 3072) * math.sin(6 * phi)
        )
        x = k0 * N * (
            A + (1 - T + C) * A**3 / 6
            + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
        )
        y = k0 * (
            M + N * math.tan(phi) * (
                A**2 / 2 + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
                + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
            )
        )
        return x0 + x, y0 + y

    def test_utm_matches_independent_snyder_series(self):
        tm = ops._tm_for_epsg("32631")
        for lon, lat in [(2.2945, 48.8584), (0.2, 44.0), (5.8, 51.9),
                         (3.0, 0.0), (4.4, -20.0)]:
            kx, ky = tm.forward(lon, lat)
            sx, sy = self._snyder_tm(lon, lat, lon0=3.0)
            assert abs(kx - sx) < 1e-3 and abs(ky - sy) < 1e-3, (lon, lat)

    def test_utm_anchors(self):
        tm = ops._tm_for_epsg("32631")
        assert tm.forward(3.0, 0.0) == (500000.0, 0.0)
        # pole northing = k0 * quarter meridian (published WGS84 value)
        import math
        assert abs(tm.forward(3.0, 90.0)[1] - 0.9996 * 10001965.7293) < 1e-3
        # east-west mirror symmetry about the central meridian
        e1, n1 = tm.forward(4.5, 45.0)
        e2, n2 = tm.forward(1.5, 45.0)
        assert abs((e1 - 500000.0) + (e2 - 500000.0)) < 1e-9 and n1 == n2

    def test_utm_south_false_northing(self):
        n = ops._tm_for_epsg("32756")
        s = ops._tm_for_epsg("32656")
        xs, ys = n.forward(153.0, -30.0)
        xn, yn = s.forward(153.0, -30.0)
        assert xs == xn and abs(ys - (yn + 10000000.0)) < 1e-9

    def test_osgb_origin_and_roundtrip(self):
        bng = ops._tm_for_epsg("27700")
        assert bng.forward(-2.0, 49.0) == (400000.0, -100000.0)
        for lon, lat in [(-0.1276, 51.5072), (-3.2, 55.95), (1.3, 52.6)]:
            x, y = bng.forward(lon, lat)
            lon2, lat2 = bng.inverse(x, y)
            assert abs(lon2 - lon) < 1e-12 and abs(lat2 - lat) < 1e-12

    def test_transform_dispatch_utm(self):
        g = ops.transform(("Point", (2.2945, 48.8584)), "EPSG:4326", "EPSG:32631")
        x, y = g[1]
        assert abs(x - 448252.0) < 0.1 and abs(y - 5411954.9) < 0.1
        back = ops.transform(g, "epsg:32631", "EPSG:4326")
        assert abs(back[1][0] - 2.2945) < 1e-12 and abs(back[1][1] - 48.8584) < 1e-12

    def test_transform_dispatch_still_raises_for_unknown(self):
        with pytest.raises(NotImplementedError):
            ops.transform(("Point", (0.0, 0.0)), "EPSG:32631", "EPSG:2154")


# --- LAEA (EPSG:3035) + user CRS registry -----------------------------------


class TestLaeaAndCrsRegistry:
    def test_center_maps_to_false_origin_exactly(self):
        from terra_bonobo_nodes_spark.geo.ops import LAEA_EUROPE

        assert LAEA_EUROPE.forward(10.0, 52.0) == (4321000.0, 3210000.0)

    def test_roundtrip_over_europe(self):
        from terra_bonobo_nodes_spark.geo.ops import LAEA_EUROPE

        for lon in range(-10, 41, 5):
            for lat in range(35, 71, 5):
                x, y = LAEA_EUROPE.forward(float(lon), float(lat))
                lon2, lat2 = LAEA_EUROPE.inverse(x, y)
                assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9

    def test_equal_area_invariant(self):
        # THE defining property: any quad's projected area equals its
        # authalic (ellipsoidal) area = a^2/2 * dlam * dq. Check small
        # quads at very different latitudes with the planar shoelace.
        import math

        from terra_bonobo_nodes_spark.geo.ops import LAEA_EUROPE as P

        for lon, lat in [(0.0, 40.0), (20.0, 55.0), (30.0, 68.0)]:
            dl = 0.01
            corners = [
                (lon, lat), (lon + dl, lat), (lon + dl, lat + dl), (lon, lat + dl)
            ]
            xy = [P.forward(*c) for c in corners]
            shoelace = 0.5 * abs(
                sum(
                    xy[i][0] * xy[(i + 1) % 4][1] - xy[(i + 1) % 4][0] * xy[i][1]
                    for i in range(4)
                )
            )
            dq = P._q(math.radians(lat + dl)) - P._q(math.radians(lat))
            truth = (P.a**2 / 2.0) * math.radians(dl) * dq
            assert abs(shoelace - truth) / truth < 1e-5, (lon, lat)

    def test_transform_dispatches_epsg_3035(self):
        from terra_bonobo_nodes_spark.geo import ops

        g = ("Point", (10.0, 52.0))
        fwd = ops.transform(g, "EPSG:4326", "EPSG:3035")
        assert fwd[1] == (4321000.0, 3210000.0)
        back = ops.transform(fwd, "EPSG:3035", "EPSG:4326")
        assert abs(back[1][0] - 10.0) < 1e-9 and abs(back[1][1] - 52.0) < 1e-9

    def test_register_crs_custom_grid(self):
        import pytest as _pytest

        from terra_bonobo_nodes_spark.geo import ops

        g = ("Point", (174.0, -41.0))
        with _pytest.raises(NotImplementedError):
            ops.transform(g, "EPSG:4326", "EPSG:2193")
        # NZTM2000: GRS80 TM, lat0=0, lon0=173, k0=0.9996, FE/FN
        ops.register_crs(
            2193,
            ops.TransverseMercator(
                6378137.0, 298.257222101,
                lat0=0.0, lon0=173.0, k0=0.9996,
                x0=1600000.0, y0=10000000.0,
            ),
        )
        try:
            fwd = ops.transform(g, "EPSG:4326", "EPSG:2193")
            back = ops.transform(fwd, "EPSG:2193", "EPSG:4326")
            assert abs(back[1][0] - 174.0) < 1e-9
            assert abs(back[1][1] - (-41.0)) < 1e-9
            # NZTM of (174E, 41S) is ~ (1684000, 5460000): sanity band
            assert 1_500_000 < fwd[1][0] < 1_800_000
            assert 5_300_000 < fwd[1][1] < 5_600_000
        finally:
            ops._CRS_REGISTRY.pop("2193", None)


# --- Polar stereographic (EPSG:3413) ----------------------------------------


class TestPolarStereographic:
    def test_pole_maps_to_origin(self):
        from terra_bonobo_nodes_spark.geo.ops import NSIDC_NORTH

        x, y = NSIDC_NORTH.forward(0.0, 90.0)
        assert abs(x) < 1e-6 and abs(y) < 1e-6
        lon, lat = NSIDC_NORTH.inverse(0.0, 0.0)
        assert abs(lat - 90.0) < 1e-9

    def test_scale_one_at_standard_parallel(self):
        # Conformal with secant parallel at 70N: the local scale factor
        # there is exactly 1. Finite-difference the meridional scale
        # against the ellipsoidal meridional radius M(phi).
        import math

        from terra_bonobo_nodes_spark.geo.ops import NSIDC_NORTH as P

        dphi = 1e-5
        for lon in (-45.0, 0.0, 90.0, 135.0):
            x1, y1 = P.forward(lon, 70.0 - dphi / 2)
            x2, y2 = P.forward(lon, 70.0 + dphi / 2)
            proj_d = math.hypot(x2 - x1, y2 - y1)
            s = math.sin(math.radians(70.0))
            m_rad = (
                P.a * (1 - P.e2) / (1 - P.e2 * s * s) ** 1.5
            ) * math.radians(dphi)
            assert abs(proj_d / m_rad - 1.0) < 1e-6, lon

    def test_roundtrip_over_arctic(self):
        from terra_bonobo_nodes_spark.geo.ops import NSIDC_NORTH

        for lon in range(-180, 180, 30):
            for lat in (45, 60, 70, 80, 89):
                x, y = NSIDC_NORTH.forward(float(lon), float(lat))
                lon2, lat2 = NSIDC_NORTH.inverse(x, y)
                dlon = (lon2 - lon + 180.0) % 360.0 - 180.0
                assert abs(dlon) < 1e-9 and abs(lat2 - lat) < 1e-9

    def test_central_meridian_lands_on_negative_y(self):
        # (-45E, 70N) is on the projection's central meridian: x = 0,
        # y = -a*m(70) ~ -2.19e6 m (the NSIDC grid's 70N crossing).
        from terra_bonobo_nodes_spark.geo.ops import NSIDC_NORTH

        x, y = NSIDC_NORTH.forward(-45.0, 70.0)
        assert abs(x) < 1e-6
        assert -2_250_000 < y < -2_150_000

    def test_transform_dispatches_epsg_3413(self):
        from terra_bonobo_nodes_spark.geo import ops

        g = ("Point", (20.0, 78.0))  # Svalbard
        fwd = ops.transform(g, "EPSG:4326", "EPSG:3413")
        back = ops.transform(fwd, "EPSG:3413", "EPSG:4326")
        assert abs(back[1][0] - 20.0) < 1e-9
        assert abs(back[1][1] - 78.0) < 1e-9

    def test_south_aspect_via_registry(self):
        # EPSG:3976 (NSIDC south, lat_ts=-70, lon0=0) through
        # register_crs: third family, south hemisphere branch.
        from terra_bonobo_nodes_spark.geo import ops

        south = ops.PolarStereographic(
            6378137.0, 298.257223563,
            lat_ts=-70.0, lon0=0.0, x0=0.0, y0=0.0, south=True,
        )
        x, y = south.forward(0.0, -90.0)
        assert abs(x) < 1e-6 and abs(y) < 1e-6
        ops.register_crs("EPSG:3976", south)
        try:
            g = ("Point", (-60.0, -75.0))  # Antarctic peninsula
            fwd = ops.transform(g, "EPSG:4326", "EPSG:3976")
            back = ops.transform(fwd, "EPSG:3976", "EPSG:4326")
            assert abs(back[1][0] - (-60.0)) < 1e-9
            assert abs(back[1][1] - (-75.0)) < 1e-9
        finally:
            ops._CRS_REGISTRY.pop("3976", None)


def test_polar_inverse_longitude_normalized():
    from terra_bonobo_nodes_spark.geo.ops import NSIDC_NORTH

    # lon0=-45: forward/inverse of true lon 170 must come back as 170,
    # not -190 (the unnormalized lam0 + atan2 result)
    for lon, lat in [(170.0, 75.0), (-179.5, 80.0), (179.5, 72.0), (135.1, 66.0)]:
        x, y = NSIDC_NORTH.forward(lon, lat)
        lon2, lat2 = NSIDC_NORTH.inverse(x, y)
        assert -180.0 <= lon2 <= 180.0, (lon, lon2)
        assert abs(lon2 - lon) < 1e-6 and abs(lat2 - lat) < 1e-9


class TestSTSqlRegistration:
    def test_scalar_and_agg_kernels_reachable_from_sql(self, spark):
        """The PostGIS-style SQL surface the reference's raw-SQL nodes
        use (GROUP BY ST_SnapToGrid, ST_Subdivide): every kernel
        registered, case-insensitive, aggregates included."""
        from terra_bonobo_nodes_spark.geo.kernels import register_st_sql

        names = register_st_sql(spark)
        assert "ST_Area" in names and len(names) >= 30
        r = spark.sql(
            "SELECT ST_Area(ST_GeomFromText('POLYGON((0 0,2 0,2 3,0 3,0 0))')) AS a,"
            "       st_x(st_point(3.5, 4.5)) AS x"  # case-insensitive
        ).collect()[0]
        assert r.a == 6.0 and r.x == 3.5

        spark.sql(
            "SELECT 'g' AS k, ST_GeomFromText('POLYGON((0 0,1 0,1 1,0 1,0 0))') AS geom"
            " UNION ALL "
            "SELECT 'g', ST_GeomFromText('POLYGON((1 0,2 0,2 1,1 1,1 0))')"
        ).createOrReplaceTempView("st_sql_geoms")
        agg = spark.sql(
            "SELECT ST_Union_Area_Agg(geom) AS area FROM st_sql_geoms GROUP BY k"
        ).collect()
        assert agg[0].area == 2.0

    def test_sql_snaptogrid_group_by_matches_reference_shape(self, spark):
        """The LayerClusters raw-SQL shape (terra.py:54-64) runs
        verbatim-ish through the registered functions."""
        from terra_bonobo_nodes_spark.geo.kernels import register_st_sql

        register_st_sql(spark)
        spark.range(100).selectExpr(
            "ST_Point(CAST(id % 10 AS DOUBLE), CAST(CAST(id / 10 AS INT) AS DOUBLE)) AS geom",
            "id",
        ).createOrReplaceTempView("st_sql_points")
        cells = spark.sql(
            "SELECT ST_AsText(ST_SnapToGrid(geom, 5.0)) AS cell, count(*) AS n"
            " FROM st_sql_points GROUP BY 1"
        ).collect()
        assert sorted(r.n for r in cells) == [25, 25, 25, 25]
