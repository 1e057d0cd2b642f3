"""Computational geometry over the tagged-tuple model in ``wkb``.

Implements the scalar semantics the reference delegates to GEOS/PostGIS
(SURVEY.md §2.4/§2.6): area, centroid, distance, intersects, a full
polygon overlay (intersection/difference/union for concave×concave with
holes, line×polygon clipping), Douglas-Peucker simplify, web-mercator
transform, snap-to-grid, subdivision. One exact core serves every
general polygon area and overlay: a vertical slab sweep
(:func:`_slab_sweep`) that sums or emits the trapezoids a predicate over
the inputs' even-odd cover picks. Convex clips take one Sutherland-
Hodgman pass, and rectilinear shapes take closed-form paths (rect
decomposition, a rect-union sweep) that skip clipping entirely. Pure
Python/stdlib — vectorization happens at the Arrow batch boundary in
``kernels``.
"""

from __future__ import annotations

import math

from terra_bonobo_nodes_spark.geo.wkb import Geom, POINT_EMPTY, is_empty

EPS = 1e-12

# --- decomposition helpers ---------------------------------------------------


def _rings(g: Geom):
    """Yield (outer?, ring) for every polygon ring in g."""
    kind, data = g
    if kind == "Polygon":
        for i, r in enumerate(data):
            yield i == 0, r
    elif kind == "MultiPolygon":
        for poly in data:
            for i, r in enumerate(poly):
                yield i == 0, r
    elif kind == "GeometryCollection":
        for sub in data:
            yield from _rings(sub)


def _points(g: Geom):
    kind, data = g
    if kind == "Point":
        if not is_empty(g):
            yield data
    elif kind == "MultiPoint":
        yield from data
    elif kind == "LineString":
        yield from data
    elif kind == "MultiLineString":
        for line in data:
            yield from line
    elif kind in ("Polygon", "MultiPolygon"):
        for _, r in _rings(g):
            yield from r
    elif kind == "GeometryCollection":
        for sub in data:
            yield from _points(sub)


def _segments(g: Geom):
    kind, data = g
    if kind == "LineString":
        for a, b in zip(data, data[1:]):
            yield a, b
    elif kind == "MultiLineString":
        for line in data:
            for a, b in zip(line, line[1:]):
                yield a, b
    elif kind in ("Polygon", "MultiPolygon"):
        for _, r in _rings(g):
            for a, b in zip(r, r[1:]):
                yield a, b
    elif kind == "GeometryCollection":
        for sub in data:
            yield from _segments(sub)


def _polygons(g: Geom):
    kind, data = g
    if kind == "Polygon":
        yield data
    elif kind == "MultiPolygon":
        yield from data
    elif kind == "GeometryCollection":
        for sub in data:
            yield from _polygons(sub)


def bbox(g: Geom) -> tuple[float, float, float, float] | None:
    pts = [p for p in _points(g)]
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return min(xs), min(ys), max(xs), max(ys)


# --- measures ----------------------------------------------------------------


def _ring_area2(ring) -> float:
    """Twice the signed shoelace area (CCW positive)."""
    s = 0.0
    for (x1, y1, *_), (x2, y2, *_) in zip(ring, ring[1:]):
        s += x1 * y2 - x2 * y1
    return s


def area(g: Geom | None) -> float:
    """Planar area; holes subtract (|outer| - |holes|), any orientation."""
    if g is None or is_empty(g):
        return 0.0
    total = 0.0
    for outer, r in _rings(g):
        a = abs(_ring_area2(r)) / 2.0
        total += a if outer else -a
    return total


def length(g: Geom | None) -> float:
    if g is None:
        return 0.0
    return math.fsum(
        math.hypot(b[0] - a[0], b[1] - a[1]) for a, b in _segments(g)
    )


def centroid(g: Geom | None) -> Geom:
    """Highest-dimension centroid (PostGIS semantics): polygons by
    area-weighted shoelace, else length-weighted segment midpoints,
    else point mean. fsum keeps accumulation order-independent."""
    if g is None or is_empty(g):
        return POINT_EMPTY
    polys = list(_rings(g))
    if polys and any(abs(_ring_area2(r)) > EPS for _, r in polys):
        sa = cx = cy = 0.0
        xs, ys, ws = [], [], []
        for outer, r in polys:
            a2 = abs(_ring_area2(r)) * (1 if outer else -1)
            # ring centroid via shoelace moments
            mx = my = 0.0
            for (x1, y1, *_), (x2, y2, *_) in zip(r, r[1:]):
                cross = x1 * y2 - x2 * y1
                mx += (x1 + x2) * cross
                my += (y1 + y2) * cross
            s2 = _ring_area2(r)
            if abs(s2) <= EPS:
                continue
            xs.append(mx / (3 * s2) * a2)
            ys.append(my / (3 * s2) * a2)
            ws.append(a2)
        w = math.fsum(ws)
        return ("Point", (math.fsum(xs) / w, math.fsum(ys) / w))
    segs = list(_segments(g))
    if segs:
        ws = [math.hypot(b[0] - a[0], b[1] - a[1]) for a, b in segs]
        w = math.fsum(ws)
        if w > EPS:
            xs = [(a[0] + b[0]) / 2 * wt for (a, b), wt in zip(segs, ws)]
            ys = [(a[1] + b[1]) / 2 * wt for (a, b), wt in zip(segs, ws)]
            return ("Point", (math.fsum(xs) / w, math.fsum(ys) / w))
    pts = list(_points(g))
    if not pts:
        return POINT_EMPTY
    return (
        "Point",
        (
            math.fsum(p[0] for p in pts) / len(pts),
            math.fsum(p[1] for p in pts) / len(pts),
        ),
    )


# --- predicates --------------------------------------------------------------


def point_in_ring(pt, ring) -> bool:
    """Ray cast; boundary counts as inside."""
    x, y = pt[0], pt[1]
    inside = False
    for (x1, y1, *_), (x2, y2, *_) in zip(ring, ring[1:]):
        # on-segment check
        if (
            min(x1, x2) - EPS <= x <= max(x1, x2) + EPS
            and min(y1, y2) - EPS <= y <= max(y1, y2) + EPS
        ):
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if abs(cross) <= EPS * max(1.0, abs(x2 - x1) + abs(y2 - y1)):
                return True
        if (y1 > y) != (y2 > y):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xin:
                inside = not inside
    return inside


def point_in_polygon(pt, rings) -> bool:
    if not rings or not point_in_ring(pt, rings[0]):
        return False
    for hole in rings[1:]:
        if point_in_ring(pt, hole):
            # boundary of a hole still intersects the polygon
            x, y = pt[0], pt[1]
            on_edge = False
            for (x1, y1, *_), (x2, y2, *_) in zip(hole, hole[1:]):
                cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
                if (
                    abs(cross) <= EPS * max(1.0, abs(x2 - x1) + abs(y2 - y1))
                    and min(x1, x2) - EPS <= x <= max(x1, x2) + EPS
                    and min(y1, y2) - EPS <= y <= max(y1, y2) + EPS
                ):
                    on_edge = True
                    break
            if not on_edge:
                return False
    return True


def _seg_intersect(a, b, c, d) -> bool:
    def orient(p, q, r):
        v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
        return 0 if abs(v) <= EPS else (1 if v > 0 else -1)

    o1, o2 = orient(a, b, c), orient(a, b, d)
    o3, o4 = orient(c, d, a), orient(c, d, b)
    if o1 != o2 and o3 != o4:
        return True

    def on(p, q, r):
        return (
            min(p[0], q[0]) - EPS <= r[0] <= max(p[0], q[0]) + EPS
            and min(p[1], q[1]) - EPS <= r[1] <= max(p[1], q[1]) + EPS
        )

    return (
        (o1 == 0 and on(a, b, c))
        or (o2 == 0 and on(a, b, d))
        or (o3 == 0 and on(c, d, a))
        or (o4 == 0 and on(c, d, b))
    )


def _bbox_overlap(a: Geom, b: Geom) -> bool:
    ba, bb = bbox(a), bbox(b)
    if ba is None or bb is None:
        return False
    return not (
        ba[2] < bb[0] - EPS
        or bb[2] < ba[0] - EPS
        or ba[3] < bb[1] - EPS
        or bb[3] < ba[1] - EPS
    )


def intersects(a: Geom | None, b: Geom | None) -> bool:
    """``ST_Intersects`` / GEOS ``geom.intersects`` (used by
    ``BooleanIntersect``, ``terra.py:235-237``). Boundary touches count."""
    if a is None or b is None or is_empty(a) or is_empty(b):
        return False
    if not _bbox_overlap(a, b):
        return False
    a_polys = list(_polygons(a))
    b_polys = list(_polygons(b))
    # any point of one inside a polygon of the other
    for pt in _points(a):
        if any(point_in_polygon(pt, rings) for rings in b_polys):
            return True
    for pt in _points(b):
        if any(point_in_polygon(pt, rings) for rings in a_polys):
            return True
    # segment crossings
    segs_b = list(_segments(b))
    for sa in _segments(a):
        for sb in segs_b:
            if _seg_intersect(sa[0], sa[1], sb[0], sb[1]):
                return True
    # point-point coincidence (no segments case)
    if not a_polys and not b_polys and not segs_b and not list(_segments(a)):
        bpts = set((round(p[0], 12), round(p[1], 12)) for p in _points(b))
        return any((round(p[0], 12), round(p[1], 12)) in bpts for p in _points(a))
    return False


def _pt_seg_dist(p, a, b) -> float:
    px, py = p[0], p[1]
    ax, ay = a[0], a[1]
    bx, by = b[0], b[1]
    dx, dy = bx - ax, by - ay
    denom = dx * dx + dy * dy
    if denom <= EPS:
        return math.hypot(px - ax, py - ay)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / denom))
    return math.hypot(px - (ax + t * dx), py - (ay + t * dy))


def distance(a: Geom | None, b: Geom | None) -> float | None:
    """``ST_Distance`` (``ClosestFeatures``, ``terra.py:313-325``):
    0 when intersecting, else min point/segment separation."""
    if a is None or b is None or is_empty(a) or is_empty(b):
        return None
    if intersects(a, b):
        return 0.0
    best = math.inf
    segs_a, segs_b = list(_segments(a)), list(_segments(b))
    pts_a, pts_b = list(_points(a)), list(_points(b))
    for p in pts_a:
        for s in segs_b:
            best = min(best, _pt_seg_dist(p, *s))
    for p in pts_b:
        for s in segs_a:
            best = min(best, _pt_seg_dist(p, *s))
    if not segs_a and not segs_b:
        for p in pts_a:
            for q in pts_b:
                best = min(best, math.hypot(p[0] - q[0], p[1] - q[1]))
    elif not segs_b:
        for p in pts_b:
            for q in pts_a:
                best = min(best, math.hypot(p[0] - q[0], p[1] - q[1]))
    elif not segs_a:
        for p in pts_a:
            for q in pts_b:
                best = min(best, math.hypot(p[0] - q[0], p[1] - q[1]))
    return best


def is_convex(ring) -> bool:
    sign = 0
    n = len(ring) - 1
    for i in range(n):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
        x3, y3 = ring[(i + 2) % n][0], ring[(i + 2) % n][1]
        cross = (x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2)
        if abs(cross) > EPS:
            s = 1 if cross > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


# --- slab sweep: the one exact area and overlay core -------------------------


def _any(c) -> bool:
    return c[0] > 0


def _both(c) -> bool:
    return c[0] > 0 and c[1] > 0


def _first_only(c) -> bool:
    return c[0] > 0 and c[1] == 0


def _slab_sweep(groups, keep, emit: bool = False):
    """Exact area or dissection of a region picked from polygon groups
    by a vertical slab sweep (Bentley & Ottmann 1979; the sweep of
    Klee's measure problem, with sloped edges).

    ``groups`` is a list of groups, each a list of polygon parts (ring
    lists: outer + holes, any orientation). Break points go at every
    vertex x and at every proper crossing of two edges inside a slab,
    so no two edges cross inside a sub-slab; there the spanning edges
    are ordered by their height at its mid-x (two edges that meet at a
    sub-slab's end tie there). Fill rule: each part keeps an even-odd
    parity, and a group covers a point when any of its parts does, the
    rule :func:`point_in_polygon` applies. ``keep`` maps the per-group
    cover counts (parts covering, in group order) to keep or drop; a
    maximal run of kept intervals is one trapezoid, which grows across
    sub-slabs while the same two edges bound it. Returns the summed
    trapezoid area, or with ``emit`` the trapezoids as convex ring-lists:
    an area-exact dissection of the kept region."""
    edges, xs = [], set()
    n_parts = 0
    for g, parts in enumerate(groups):
        for rings in parts:
            for r in rings:
                for (xa, ya, *_), (xb, yb, *_) in zip(r, r[1:] + r[:1]):
                    xs.add(xa)
                    if xa == xb:
                        continue  # vertical: spans no slab
                    if xa > xb:
                        xa, ya, xb, yb = xb, yb, xa, ya
                    slope = (yb - ya) / (xb - xa)
                    if math.isinf(slope):
                        slope = None  # subnormal x-extent: interpolate in y_at
                    edges.append((xa, ya, xb, yb, slope, g, n_parts))
            n_parts += 1
    edges.sort()
    xs = sorted(xs)

    def y_at(e, x):
        if x == e[2]:
            return e[3]
        if e[4] is None:
            return e[1] + (e[3] - e[1]) * ((x - e[0]) / (e[2] - e[0]))
        return e[1] + e[4] * (x - e[0])

    out: list = []

    def close(opened, x_end):
        # each run spans [x_start, x_end] between the same two edges,
        # which do not cross there: a convex trapezoid
        for (lo, hi), xa in opened.items():
            lo0, lo1 = y_at(lo, xa), y_at(lo, x_end)
            hi0, hi1 = max(y_at(hi, xa), lo0), max(y_at(hi, x_end), lo1)
            if not emit:
                out.append((x_end - xa) * ((hi0 - lo0) + (hi1 - lo1)) / 2.0)
            elif hi0 > lo0 or hi1 > lo1:
                ring = [(xa, lo0), (x_end, lo1)]
                ring += [(x_end, hi1)] if hi1 > lo1 else []
                ring += [(xa, hi0)] if hi0 > lo0 else []
                out.append([ring + ring[:1]])

    active: list = []
    opened: dict = {}  # (lower edge, upper edge) of a kept run -> its start x
    nxt = 0
    for x0, x1 in zip(xs, xs[1:]):
        while nxt < len(edges) and edges[nxt][0] <= x0:
            active.append(edges[nxt])
            nxt += 1
        # every vertex x is a break, so an edge alive at x0 spans [x0, x1]
        active = [e for e in active if e[2] > x0]
        if len(active) < 2:
            close(opened, x0)
            opened = {}
            continue
        # crossings are the pairs that swap order between the slab's two
        # ends: insertion-sort the left-end order by right-end height
        ends = sorted((y_at(e, x0), y_at(e, x1)) for e in active)
        cuts = {x0, x1}
        for i in range(1, len(ends)):
            j = i
            while j > 0 and ends[j - 1][1] > ends[j][1]:
                (a0, a1), (b0, b1) = ends[j - 1], ends[j]
                xc = x0 + (x1 - x0) * (b0 - a0) / ((b0 - a0) + (a1 - b1))
                if x0 < xc < x1:
                    cuts.add(xc)
                ends[j - 1], ends[j] = ends[j], ends[j - 1]
                j -= 1
        cuts = sorted(cuts)
        for s0, s1 in zip(cuts, cuts[1:]):
            xm = 0.5 * (s0 + s1)
            parity = [False] * n_parts
            count = [0] * len(groups)
            runs, lo = {}, None
            for e in sorted(active, key=lambda e: y_at(e, xm)):
                parity[e[6]] = odd = not parity[e[6]]
                count[e[5]] += 1 if odd else -1
                if keep(count):
                    lo = lo or e
                elif lo is not None:
                    runs[lo, e] = opened.pop((lo, e), s0)
                    lo = None
            close(opened, s0)
            opened = runs
    close(opened, xs[-1] if xs else 0.0)
    return out if emit else math.fsum(out)


# --- clipping / overlay ------------------------------------------------------


def _clip_ring_convex(subject, clip_ring):
    """Sutherland-Hodgman: clip arbitrary subject ring by a CONVEX
    clip ring. Returns a closed ring (possibly empty)."""
    # ensure CCW clip orientation
    clip = clip_ring if _ring_area2(clip_ring) > 0 else clip_ring[::-1]
    output = [tuple(p[:2]) for p in subject[:-1]]
    for (cx1, cy1, *_), (cx2, cy2, *_) in zip(clip, clip[1:]):
        if not output:
            return []
        input_pts = output
        output = []

        def inside(p):
            return (cx2 - cx1) * (p[1] - cy1) - (cy2 - cy1) * (p[0] - cx1) >= -EPS

        def inter(p, q):
            dx, dy = q[0] - p[0], q[1] - p[1]
            ex, ey = cx2 - cx1, cy2 - cy1
            denom = ex * dy - ey * dx
            if abs(denom) <= EPS:
                return q
            t = (ey * (p[0] - cx1) - ex * (p[1] - cy1)) / denom
            return (p[0] + t * dx, p[1] + t * dy)

        prev = input_pts[-1]
        for cur in input_pts:
            if inside(cur):
                if not inside(prev):
                    output.append(inter(prev, cur))
                output.append(cur)
            elif inside(prev):
                output.append(inter(prev, cur))
            prev = cur
    if len(output) < 3:
        return []
    return output + [output[0]]


def as_axis_rect(g: Geom | None) -> tuple[float, float, float, float] | None:
    """(x0, y0, x1, y1) when g is a single axis-aligned rectangle ring
    (5 points, closed, sides parallel to the axes) — else None. Grid
    tiles, envelopes, and snapped cells all qualify, which makes the
    O(1) rect-rect overlap fast path below very common in practice."""
    if g is None or g[0] != "Polygon" or len(g[1]) != 1:
        return None
    r = g[1][0]
    if len(r) != 5 or r[0] != r[4]:
        return None
    xs = {p[0] for p in r}
    ys = {p[1] for p in r}
    if len(xs) != 2 or len(ys) != 2:
        return None
    # each consecutive side must be axis-parallel (rules out 'bowties')
    for (ax, ay), (bx, by) in zip(r, r[1:]):
        if ax != bx and ay != by:
            return None
    return (min(xs), min(ys), max(xs), max(ys))


def rect_overlap_area(
    ra: tuple[float, float, float, float], rb: tuple[float, float, float, float]
) -> float:
    w = min(ra[2], rb[2]) - max(ra[0], rb[0])
    h = min(ra[3], rb[3]) - max(ra[1], rb[1])
    return w * h if w > 0 and h > 0 else 0.0


_RECTIL_CACHE: dict = {}
_RECTIL_CACHE_MAX = 4096


def rectilinear_rects(g: Geom | None) -> list | None:
    """Decompose a RECTILINEAR polygon/multipolygon (every edge axis-
    parallel; holes fine) into disjoint axis rects via vertical-slab
    sweep with parity fill — or None when g isn't rectilinear. Memoized
    (layer dictionaries repeat across join pairs)."""
    if g is None or g[0] not in ("Polygon", "MultiPolygon"):
        return None
    key = tuple(
        tuple(tuple(p[:2]) for p in ring)
        for rings in _polygons(g)
        for ring in rings
    )
    hit = _RECTIL_CACHE.get(key)
    if hit is not None:
        return hit or None  # [] sentinel = known non-rectilinear
    rects = []
    for rings in _polygons(g):
        hedges = []
        xs = set()
        for r in rings:
            for (x1, y1, *_), (x2, y2, *_) in zip(r, r[1:]):
                if abs(x1 - x2) > EPS and abs(y1 - y2) > EPS:
                    if len(_RECTIL_CACHE) >= _RECTIL_CACHE_MAX:
                        _RECTIL_CACHE.clear()
                    _RECTIL_CACHE[key] = []
                    return None
                if abs(y1 - y2) <= EPS and abs(x1 - x2) > EPS:
                    hedges.append((min(x1, x2), max(x1, x2), y1))
                xs.add(x1)
                xs.add(x2)
        for x0, x1 in zip(*(lambda s: (s, s[1:]))(sorted(xs))):
            if x1 - x0 <= EPS:
                continue
            xm = (x0 + x1) / 2.0
            ys = sorted(y for (e0, e1, y) in hedges if e0 < xm < e1)
            for ya, yb in zip(ys[::2], ys[1::2]):
                if yb - ya > EPS:
                    rects.append((x0, ya, x1, yb))
    if len(_RECTIL_CACHE) >= _RECTIL_CACHE_MAX:
        _RECTIL_CACHE.clear()
    _RECTIL_CACHE[key] = rects
    return rects


def intersection_area(a: Geom | None, b: Geom | None) -> float:
    """area(intersection(a, b)) with closed-form fast paths: O(1) when
    both sides are axis rects; O(ra·rb) summed rect overlaps when both
    are rectilinear (L-shapes, grid unions, staircases). Everything
    else is the area face of the slab sweep (:func:`_slab_sweep`, which
    states the fill rule), with no pieces built."""
    ra, rb = as_axis_rect(a), as_axis_rect(b)
    if ra is not None and rb is not None:
        return rect_overlap_area(ra, rb)
    if a is None or b is None:
        return 0.0
    da, db = rectilinear_rects(a), rectilinear_rects(b)
    if da is not None and db is not None:
        return sum(
            rect_overlap_area(x, y) for x in da for y in db
        )
    return _slab_sweep([list(_polygons(a)), list(_polygons(b))], _both)


def covered_area(subject: Geom | None, others) -> float:
    """area(subject ∩ ∪others) in one slab sweep, with no pieces and no
    union built: the overlap of a record with an overlapping layer,
    each shared region counted once. Fill rule as in
    :func:`_slab_sweep`: a geometry covers a point when any of its
    parts does, by even-odd parity within a part."""
    if subject is None:
        return 0.0
    layer = [p for g in others if g is not None for p in _polygons(g)]
    return _slab_sweep([list(_polygons(subject)), layer], _both)


def _clip_poly_by_ring(subject_rings, clip_ring) -> list | None:
    """Clip one polygon (outer + holes) by a convex ring → ring-list or
    None when the outer vanishes."""
    outer = _clip_ring_convex(subject_rings[0], clip_ring)
    if not outer or abs(_ring_area2(outer)) <= EPS:
        return None
    rings = [outer]
    for hole in subject_rings[1:]:
        clipped_hole = _clip_ring_convex(hole, clip_ring)
        if clipped_hole and abs(_ring_area2(clipped_hole)) > EPS:
            rings.append(clipped_hole)
    return rings


def _seg_ring_params(p, q, ring) -> list:
    """Parameters t in (0,1) where segment p→q crosses the ring's edges."""
    ts = []
    px, py = p
    dx, dy = q[0] - p[0], q[1] - p[1]
    for (x1, y1, *_), (x2, y2, *_) in zip(ring, ring[1:]):
        ex, ey = x2 - x1, y2 - y1
        denom = dx * ey - dy * ex
        if abs(denom) <= EPS:
            continue
        t = ((x1 - px) * ey - (y1 - py) * ex) / denom
        u = ((x1 - px) * dy - (y1 - py) * dx) / denom
        if -EPS < t < 1 + EPS and -EPS < u < 1 + EPS:
            ts.append(min(1.0, max(0.0, t)))
    return ts


def _clip_lines_by_polys(lines, polys, keep_inside: bool) -> list:
    """Clip polylines against a polygon set: keep the sub-segments whose
    midpoint is inside (intersection) or outside (difference) the
    region. Returns merged polyline paths."""
    out = []
    for line in lines:
        path = []
        for p, q in zip(line, line[1:]):
            p2, q2 = tuple(p[:2]), tuple(q[:2])
            ts = {0.0, 1.0}
            for rings in polys:
                for ring in rings:
                    ts.update(_seg_ring_params(p2, q2, ring))
            ts = sorted(ts)
            for t0, t1 in zip(ts, ts[1:]):
                if t1 - t0 <= EPS:
                    continue
                tm = (t0 + t1) / 2.0
                mid = (
                    p2[0] + tm * (q2[0] - p2[0]),
                    p2[1] + tm * (q2[1] - p2[1]),
                )
                inside = any(point_in_polygon(mid, rings) for rings in polys)
                if inside == keep_inside:
                    a_pt = (
                        p2[0] + t0 * (q2[0] - p2[0]),
                        p2[1] + t0 * (q2[1] - p2[1]),
                    )
                    b_pt = (
                        p2[0] + t1 * (q2[0] - p2[0]),
                        p2[1] + t1 * (q2[1] - p2[1]),
                    )
                    if path and path[-1] == a_pt:
                        path.append(b_pt)
                    else:
                        if len(path) > 1:
                            out.append(path)
                        path = [a_pt, b_pt]
                else:
                    if len(path) > 1:
                        out.append(path)
                    path = []
        if len(path) > 1:
            out.append(path)
    return out


def _as_lines(g: Geom) -> list | None:
    if g[0] == "LineString":
        return [g[1]]
    if g[0] == "MultiLineString":
        return list(g[1])
    return None


def intersection(a: Geom | None, b: Geom | None) -> Geom:
    """``ST_Intersection`` for points and polygons (the reference's
    clip-to-layer workloads, ``terra.py:266-274``). Fast paths: point ×
    anything; polygon × polygon with one convex hole-free side (grid
    tiles, envelopes, subdivision cells) → a single Sutherland-Hodgman
    clip. General concave×concave (holes allowed): the slab sweep
    (:func:`_slab_sweep`: even-odd parity per part, a geometry covers
    a point when any of its parts does) emits the trapezoids covered
    by both — an area-exact DISSECTION of the true intersection (a
    MultiPolygon of adjacent convex pieces, not a merged boundary)."""
    if a is None or b is None or is_empty(a) or is_empty(b):
        return POINT_EMPTY
    ka, kb = a[0], b[0]
    if ka in ("Point", "MultiPoint"):
        pts = [p for p in _points(a) if intersects(("Point", p), b)]
        if not pts:
            return POINT_EMPTY
        return ("Point", pts[0]) if len(pts) == 1 else ("MultiPoint", pts)
    if kb in ("Point", "MultiPoint"):
        return intersection(b, a)
    a_polys, b_polys = list(_polygons(a)), list(_polygons(b))
    # line × polygon: keep the inside sub-segments
    a_lines, b_lines = _as_lines(a), _as_lines(b)
    if a_lines is not None and b_polys:
        paths = _clip_lines_by_polys(a_lines, b_polys, keep_inside=True)
        if not paths:
            return POINT_EMPTY
        return (
            ("LineString", paths[0]) if len(paths) == 1 else ("MultiLineString", paths)
        )
    if b_lines is not None and a_polys:
        return intersection(b, a)
    if not a_polys or not b_polys:
        raise NotImplementedError(f"intersection({ka}, {kb})")
    out = []
    general = []
    for pa in a_polys:
        for pb in b_polys:
            if len(pb) == 1 and is_convex(pb[0]):
                subject, clip = pa, pb[0]
            elif len(pa) == 1 and is_convex(pa[0]):
                subject, clip = pb, pa[0]
            else:
                general.append((pa, pb))
                continue
            rings = _clip_poly_by_ring(subject, clip)
            if rings:
                out.append(rings)
    for pa, pb in general:
        out.extend(_slab_sweep([[pa], [pb]], _both, emit=True))
    if not out:
        return POINT_EMPTY
    return ("Polygon", out[0]) if len(out) == 1 else ("MultiPolygon", out)


def _seg_properly_intersect(a, b, c, d) -> bool:
    """Segment interiors cross (shared endpoints / collinear touch do
    NOT count — those are allowed in containment)."""

    def orient(p, q, r):
        v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
        return 0 if abs(v) <= EPS else (1 if v > 0 else -1)

    o1, o2 = orient(a, b, c), orient(a, b, d)
    o3, o4 = orient(c, d, a), orient(c, d, b)
    return o1 * o2 < 0 and o3 * o4 < 0


def contains(a: Geom, b: Geom) -> bool:
    """a contains b: every vertex AND segment midpoint of b inside a
    polygon of a, and no proper boundary crossing. Midpoints catch the
    shared-vertex case where b's edge exits a through a common vertex
    without properly crossing any edge."""
    a_polys = list(_polygons(a))
    if not a_polys:
        return False
    probe = list(_points(b))
    probe.extend(
        ((p[0] + q[0]) / 2.0, (p[1] + q[1]) / 2.0) for p, q in _segments(b)
    )
    for pt in probe:
        if not any(point_in_polygon(pt, rings) for rings in a_polys):
            return False
    a_segs = list(_segments(a))
    for sb in _segments(b):
        for sa in a_segs:
            if _seg_properly_intersect(sa[0], sa[1], sb[0], sb[1]):
                return False
    return True


def difference(a: Geom | None, b: Geom | None) -> Geom:
    """``ST_Difference`` (IsochroneSubstraction, ``common.py:522-532``).
    Exact merged output when b is disjoint from a (-> a), b contains a
    (-> EMPTY), or b sits strictly inside a hole-free a (-> polygon
    with hole). Points subtract exactly. The general partial-overlap
    case is one slab sweep (:func:`_slab_sweep`: even-odd parity per
    part, a geometry covers a point when any of its parts does) that
    emits the trapezoids covered by a and not by b — an area-exact
    dissection, like general ``intersection``."""
    if a is None or is_empty(a):
        return POINT_EMPTY
    if b is None or is_empty(b):
        return a
    if a[0] in ("Point", "MultiPoint"):
        pts = [p for p in _points(a) if not intersects(("Point", p), b)]
        if not pts:
            return POINT_EMPTY
        return ("Point", pts[0]) if len(pts) == 1 else ("MultiPoint", pts)
    if not intersects(a, b):
        return a
    if contains(b, a):
        return POINT_EMPTY
    # line \ polygon: keep the outside sub-segments
    a_lines = _as_lines(a)
    if a_lines is not None:
        bp = list(_polygons(b))
        if bp:
            paths = _clip_lines_by_polys(a_lines, bp, keep_inside=False)
            if not paths:
                return POINT_EMPTY
            return (
                ("LineString", paths[0])
                if len(paths) == 1
                else ("MultiLineString", paths)
            )
    a_polys, b_polys = list(_polygons(a)), list(_polygons(b))
    if a_polys and b_polys and len(a_polys) == 1 and len(a_polys[0]) == 1:
        if all(len(pb) == 1 and contains(a, ("Polygon", pb)) for pb in b_polys):
            rings = list(a_polys[0])
            for pb in b_polys:
                hole = pb[0]
                # hole orientation opposite to outer
                rings.append(
                    hole[::-1]
                    if _ring_area2(hole) * _ring_area2(rings[0]) > 0
                    else hole
                )
            return ("Polygon", rings)
    if not a_polys or not b_polys:
        raise NotImplementedError(f"difference({a[0]}, {b[0]})")
    pieces = _slab_sweep([a_polys, b_polys], _first_only, emit=True)
    if not pieces:
        return POINT_EMPTY
    return ("Polygon", pieces[0]) if len(pieces) == 1 else ("MultiPolygon", pieces)


def union_collect(geoms) -> Geom:
    """Aggregate union as a collection (PostGIS ``ST_Collect``; the
    reference's ``Collect(geom)`` at ``common.py:253``, and the
    area-preserving stand-in for ``UnionOnProperty``'s cascaded ``|=``
    when inputs are disjoint). Homogeneous inputs -> Multi*, mixed ->
    GeometryCollection."""
    gs = [g for g in geoms if g is not None and not is_empty(g)]
    if not gs:
        return POINT_EMPTY
    kinds = {g[0] for g in gs}
    if kinds == {"Point"}:
        return ("MultiPoint", [g[1] for g in gs])
    if kinds == {"LineString"}:
        return ("MultiLineString", [g[1] for g in gs])
    if kinds == {"Polygon"}:
        return ("MultiPolygon", [g[1] for g in gs])
    flat = []
    for g in gs:
        if g[0] in ("MultiPoint", "MultiLineString", "MultiPolygon"):
            sub = g[0][5:]
            flat.extend((sub, d) for d in g[1])
        elif g[0] == "GeometryCollection":
            flat.extend(g[1])
        else:
            flat.append(g)
    return ("GeometryCollection", flat)


def union_dissolve(geoms) -> Geom:
    """TRUE geometric union of polygons (PostGIS ``ST_Union`` agg; the
    reference's ``UnionOnProperty`` cascaded ``|=``, ``common.py:
    557-564``), as a disjoint-piece dissection: one slab sweep
    (:func:`_slab_sweep`: even-odd parity per part, a point is covered
    when any part covers it) emits the covered trapezoids, so overlaps
    are counted once. Non-areal inputs fall back to ``union_collect``.
    Area/centroid/contains over the result are exact; the boundary is
    dissected, not merged."""
    gs = [g for g in geoms if g is not None and not is_empty(g)]
    if not gs:
        return POINT_EMPTY
    if any(g[0] not in ("Polygon", "MultiPolygon") for g in gs):
        return union_collect(gs)
    pieces = _slab_sweep([[p for g in gs for p in _polygons(g)]], _any, emit=True)
    if not pieces:
        return POINT_EMPTY
    return ("Polygon", pieces[0]) if len(pieces) == 1 else ("MultiPolygon", pieces)


def union_area(geoms) -> float:
    """Area of the true union. Rectilinear inputs decompose into axis
    rects whose union :func:`rect_union_area` sweeps exactly (no
    clipping at all); any other input is the area face of one slab
    sweep (:func:`_slab_sweep`: even-odd parity per part, a point is
    covered when any part covers it)."""
    gs = [g for g in geoms if g is not None and not is_empty(g)]
    if not gs:
        return 0.0
    rects = []
    for g in gs:
        r = rectilinear_rects(g)
        if r is None:
            return _slab_sweep([[p for g in gs for p in _polygons(g)]], _any)
        rects.extend(r)
    return rect_union_area(*zip(*rects)) if rects else 0.0


def rect_union_area(x0, y0, x1, y1) -> float:
    """Union area of axis-aligned rectangles given as four coordinate
    sequences (no geometry objects, no WKB): a vertical sweep over the
    distinct x breakpoints, accumulating dx times the union length of
    the active rects' y intervals. Exact up to float rounding,
    O(breakpoints x active log active). Degenerate (zero-width/height)
    rects contribute nothing. The one union-area core for axis rects:
    :func:`union_area` routes rectilinear geometries here."""
    rects = [
        (a, b, c, d)
        for a, b, c, d in zip(x0, y0, x1, y1)
        if c > a and d > b
    ]
    if not rects:
        return 0.0
    xs = sorted({v for r in rects for v in (r[0], r[2])})
    total = 0.0
    for xa, xb in zip(xs, xs[1:]):
        spans = sorted(
            (b, d) for a, b, c, d in rects if a < xb and c > xa
        )
        if not spans:
            continue
        covered = 0.0
        cur_lo, cur_hi = spans[0]
        for lo, hi in spans[1:]:
            if lo > cur_hi:
                covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            elif hi > cur_hi:
                cur_hi = hi
        covered += cur_hi - cur_lo
        total += (xb - xa) * covered
    return total


# --- transforms --------------------------------------------------------------


def _map_coords(g: Geom, fn) -> Geom:
    kind, data = g
    if kind == "Point":
        return (kind, fn(data)) if not is_empty(g) else g
    if kind == "LineString":
        return (kind, [fn(p) for p in data])
    if kind == "Polygon":
        return (kind, [[fn(p) for p in r] for r in data])
    if kind == "MultiPoint":
        return (kind, [fn(p) for p in data])
    if kind == "MultiLineString":
        return (kind, [[fn(p) for p in ln] for ln in data])
    if kind == "MultiPolygon":
        return (kind, [[[fn(p) for p in r] for r in poly] for poly in data])
    return (kind, [_map_coords(sub, fn) for sub in data])


_R = 6378137.0


class LambertConformalConic:
    """Closed-form Lambert conformal conic (2SP, Snyder 1987 §15) on an
    ellipsoid — the reference's ``metric_projection_srid`` contract
    (``terra.py:43,474-494``) without a proj database. Constants are
    derived once at import; the same values are embedded as literals in
    the DuckDB oracle SQL so both engines evaluate the identical
    expression shape."""

    def __init__(
        self,
        a: float,
        inv_f: float,
        lat0: float,
        lon0: float,
        lat1: float,
        lat2: float,
        x0: float,
        y0: float,
    ):
        self.a, self.x0, self.y0 = a, x0, y0
        self.e2 = 2.0 / inv_f - 1.0 / (inv_f * inv_f)
        self.e = math.sqrt(self.e2)
        p0, p1, p2 = map(math.radians, (lat0, lat1, lat2))
        self.lam0 = math.radians(lon0)
        m1, m2 = self._m(p1), self._m(p2)
        t0, t1, t2 = self._t(p0), self._t(p1), self._t(p2)
        self.n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
        self.af = a * m1 / (self.n * t1**self.n)  # a*F
        self.rho0 = self.af * t0**self.n

    def _m(self, phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - self.e2 * s * s)

    def _t(self, phi: float) -> float:
        s = math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) * (
            (1.0 + self.e * s) / (1.0 - self.e * s)
        ) ** (self.e / 2.0)

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        t = self._t(math.radians(lat))
        rho = self.af * t**self.n
        theta = self.n * (math.radians(lon) - self.lam0)
        return (
            self.x0 + rho * math.sin(theta),
            self.y0 + self.rho0 - rho * math.cos(theta),
        )

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        dx, dy = x - self.x0, self.rho0 - (y - self.y0)
        rho = math.copysign(math.hypot(dx, dy), self.n)
        t = (rho / self.af) ** (1.0 / self.n)
        lam = math.atan2(dx, dy) / self.n + self.lam0
        phi = math.pi / 2.0 - 2.0 * math.atan(t)
        for _ in range(12):
            s = math.sin(phi)
            phi = math.pi / 2.0 - 2.0 * math.atan(
                t * ((1.0 - self.e * s) / (1.0 + self.e * s)) ** (self.e / 2.0)
            )
        return math.degrees(lam), math.degrees(phi)


def _sinh(x: float) -> float:
    return (math.exp(x) - math.exp(-x)) / 2.0


def _cosh(x: float) -> float:
    return (math.exp(x) + math.exp(-x)) / 2.0


def _asinh(x: float) -> float:
    return math.log(x + math.sqrt(x * x + 1.0))


def _atanh(x: float) -> float:
    return 0.5 * math.log((1.0 + x) / (1.0 - x))


class TransverseMercator:
    """Ellipsoidal transverse Mercator via the Krüger series in the
    third flattening n, 6th order (Karney 2011, "Transverse Mercator
    with an accuracy of a few nanometers" — public formulas; coefficient
    table also in the proj documentation). Covers every UTM zone
    (EPSG:326xx/327xx) and national TM grids like OSGB (EPSG:27700) —
    the long tail of the reference's arbitrary ``metric_projection_srid``
    contract (``terra.py:43,474-494``) that Lambert-93 alone misses.

    The forward path is closed-form (series + hyperbolics, no
    iteration), so the same expression shape can be embedded as literals
    in a DuckDB oracle; the inverse solves the conformal latitude by
    fixed point like :class:`LambertConformalConic`. Hyperbolics are
    composed from exp/ln (module helpers below) rather than math.sinh
    etc. so the Python kernel and the exp/ln-based DuckDB oracle execute
    the IDENTICAL libm op sequence — bit-identical doubles are what
    keeps the driver's value-hash comparison stable."""

    def __init__(
        self,
        a: float,
        inv_f: float,
        lat0: float,
        lon0: float,
        k0: float,
        x0: float,
        y0: float,
    ):
        f = 1.0 / inv_f
        self.e = math.sqrt(2.0 * f - f * f)
        n = f / (2.0 - f)
        self.lam0 = math.radians(lon0)
        self.k0, self.x0, self.y0 = k0, x0, y0
        self.A = a / (1.0 + n) * (1.0 + n * n / 4.0 + n**4 / 64.0 + n**6 / 256.0)
        self.alpha = (
            n / 2.0 - 2.0 / 3.0 * n**2 + 5.0 / 16.0 * n**3
            + 41.0 / 180.0 * n**4 - 127.0 / 288.0 * n**5 + 7891.0 / 37800.0 * n**6,
            13.0 / 48.0 * n**2 - 3.0 / 5.0 * n**3 + 557.0 / 1440.0 * n**4
            + 281.0 / 630.0 * n**5 - 1983433.0 / 1935360.0 * n**6,
            61.0 / 240.0 * n**3 - 103.0 / 140.0 * n**4
            + 15061.0 / 26880.0 * n**5 + 167603.0 / 181440.0 * n**6,
            49561.0 / 161280.0 * n**4 - 179.0 / 168.0 * n**5
            + 6601661.0 / 7257600.0 * n**6,
            34729.0 / 80640.0 * n**5 - 3418889.0 / 1995840.0 * n**6,
            212378941.0 / 319334400.0 * n**6,
        )
        self.beta = (
            n / 2.0 - 2.0 / 3.0 * n**2 + 37.0 / 96.0 * n**3
            - 1.0 / 360.0 * n**4 - 81.0 / 512.0 * n**5 + 96199.0 / 604800.0 * n**6,
            1.0 / 48.0 * n**2 + 1.0 / 15.0 * n**3 - 437.0 / 1440.0 * n**4
            + 46.0 / 105.0 * n**5 - 1118711.0 / 3870720.0 * n**6,
            17.0 / 480.0 * n**3 - 37.0 / 840.0 * n**4
            - 209.0 / 4480.0 * n**5 + 5569.0 / 90720.0 * n**6,
            4397.0 / 161280.0 * n**4 - 11.0 / 504.0 * n**5
            - 830251.0 / 7257600.0 * n**6,
            4583.0 / 161280.0 * n**5 - 108847.0 / 3991680.0 * n**6,
            20648693.0 / 638668800.0 * n**6,
        )
        # meridian-arc offset so a nonzero lat0 (OSGB) maps to northing 0
        self.xi0 = self._xi_eta(math.radians(lat0), 0.0)[0] if lat0 else 0.0

    def _xi_eta(self, phi: float, lam_d: float) -> tuple[float, float]:
        s = math.sin(phi)
        # conformal latitude chi: tan(chi) = sinh(asinh(tan phi) - e atanh(e sin phi))
        t = _sinh(_asinh(math.tan(phi)) - self.e * _atanh(self.e * s))
        c = math.cos(lam_d)
        xi_p = math.atan2(t, c)
        eta_p = _asinh(math.sin(lam_d) / math.sqrt(t * t + c * c))
        xi, eta = xi_p, eta_p
        for j, a_j in enumerate(self.alpha, start=1):
            xi += a_j * math.sin(2 * j * xi_p) * _cosh(2 * j * eta_p)
            eta += a_j * math.cos(2 * j * xi_p) * _sinh(2 * j * eta_p)
        return xi, eta

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        xi, eta = self._xi_eta(math.radians(lat), math.radians(lon) - self.lam0)
        return (
            self.x0 + self.k0 * self.A * eta,
            self.y0 + self.k0 * self.A * (xi - self.xi0),
        )

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        xi = (y - self.y0) / (self.k0 * self.A) + self.xi0
        eta = (x - self.x0) / (self.k0 * self.A)
        xi_p, eta_p = xi, eta
        for j, b_j in enumerate(self.beta, start=1):
            xi_p -= b_j * math.sin(2 * j * xi) * _cosh(2 * j * eta)
            eta_p -= b_j * math.cos(2 * j * xi) * _sinh(2 * j * eta)
        sh, cx = _sinh(eta_p), math.cos(xi_p)
        t = math.sin(xi_p) / math.sqrt(sh * sh + cx * cx)
        lam = math.atan2(sh, cx)
        # invert the conformal latitude by fixed point (cf. Lambert inverse)
        phi = math.atan(t)
        for _ in range(12):
            phi = math.atan(
                _sinh(_asinh(t) + self.e * _atanh(self.e * math.sin(phi)))
            )
        return math.degrees(lam + self.lam0), math.degrees(phi)


_WGS84_A, _WGS84_INV_F = 6378137.0, 298.257223563
_TM_CACHE: dict[str, TransverseMercator] = {}


def _tm_for_epsg(code: str) -> TransverseMercator | None:
    """Resolve an EPSG code to a TransverseMercator instance: UTM north
    32601-32660, UTM south 32701-32760 (WGS84, k0=0.9996, FE=500000,
    FN=0/10000000), and OSGB36 National Grid 27700 (Airy 1830 — treated
    here as a projection-only CRS: no datum shift, matching the
    reference's srid-pass-through contract)."""
    tm = _TM_CACHE.get(code)
    if tm is not None:
        return tm
    if code.isdigit():
        num = int(code)
        if 32601 <= num <= 32660 or 32701 <= num <= 32760:
            south = num >= 32701
            zone = num - (32700 if south else 32600)
            tm = TransverseMercator(
                _WGS84_A, _WGS84_INV_F,
                lat0=0.0, lon0=zone * 6.0 - 183.0, k0=0.9996,
                x0=500000.0, y0=10000000.0 if south else 0.0,
            )
        elif num == 27700:
            tm = TransverseMercator(
                6377563.396, 299.3249646,
                lat0=49.0, lon0=-2.0, k0=0.9996012717,
                x0=400000.0, y0=-100000.0,
            )
    if tm is not None:
        _TM_CACHE[code] = tm
    return tm


# RGF93 / Lambert-93 (EPSG:2154): GRS80, phi0=46.5, lon0=3, parallels
# 44/49, false origin (700000, 6600000) — the metric CRS the reference's
# French deployments pass as metric_projection_srid.
LAMBERT93 = LambertConformalConic(
    a=6378137.0,
    inv_f=298.257222101,
    lat0=46.5,
    lon0=3.0,
    lat1=44.0,
    lat2=49.0,
    x0=700000.0,
    y0=6600000.0,
)


class LambertAzimuthalEqualArea:
    """Ellipsoidal oblique Lambert azimuthal equal-area (Snyder 1987,
    "Map Projections — A Working Manual", pp. 187-190 — public). The
    projection family behind ETRS89-LAEA (EPSG:3035), the standard
    European statistical grid. Forward is closed-form; inverse iterates
    the authalic-latitude equation (Snyder eq. 3-16)."""

    def __init__(
        self,
        a: float,
        inv_f: float,
        lat0: float,
        lon0: float,
        x0: float,
        y0: float,
    ) -> None:
        f = 1.0 / inv_f
        self.a = a
        self.e2 = f * (2.0 - f)
        self.e = math.sqrt(self.e2)
        self.lam0 = math.radians(lon0)
        self.x0, self.y0 = x0, y0
        phi1 = math.radians(lat0)
        self.qp = self._q(math.pi / 2.0)
        beta1 = math.asin(self._q(phi1) / self.qp)
        self.sb1, self.cb1 = math.sin(beta1), math.cos(beta1)
        self.rq = a * math.sqrt(self.qp / 2.0)
        m1 = math.cos(phi1) / math.sqrt(1.0 - self.e2 * math.sin(phi1) ** 2)
        self.d = a * m1 / (self.rq * self.cb1)

    def _q(self, phi: float) -> float:
        s = math.sin(phi)
        es = self.e * s
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * self.e)) * math.log((1.0 - es) / (1.0 + es))
        )

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        beta = math.asin(max(-1.0, min(1.0, self._q(math.radians(lat)) / self.qp)))
        dlam = math.radians(lon) - self.lam0
        sb, cb = math.sin(beta), math.cos(beta)
        b = self.rq * math.sqrt(
            2.0 / (1.0 + self.sb1 * sb + self.cb1 * cb * math.cos(dlam))
        )
        return (
            self.x0 + b * self.d * cb * math.sin(dlam),
            self.y0 + (b / self.d) * (self.cb1 * sb - self.sb1 * cb * math.cos(dlam)),
        )

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        dx = (x - self.x0) / self.d
        dy = self.d * (y - self.y0)
        rho = math.hypot(dx, dy)
        if rho == 0.0:
            q = self.qp * self.sb1
            lam = self.lam0
        else:
            ce = 2.0 * math.asin(max(-1.0, min(1.0, rho / (2.0 * self.rq))))
            q = self.qp * (
                math.cos(ce) * self.sb1 + dy * math.sin(ce) * self.cb1 / rho
            )
            lam = self.lam0 + math.atan2(
                dx * math.sin(ce),
                rho * self.cb1 * math.cos(ce) - dy * self.sb1 * math.sin(ce),
            )
        phi = math.asin(max(-1.0, min(1.0, q / 2.0)))
        for _ in range(12):
            s = math.sin(phi)
            es = self.e * s
            phi = phi + ((1.0 - self.e2 * s * s) ** 2 / (2.0 * math.cos(phi))) * (
                q / (1.0 - self.e2)
                - s / (1.0 - self.e2 * s * s)
                + (1.0 / (2.0 * self.e)) * math.log((1.0 - es) / (1.0 + es))
            )
        return math.degrees(lam), math.degrees(phi)


# ETRS89-extended / LAEA Europe (EPSG:3035): GRS80, center (52N, 10E),
# false origin (4321000, 3210000).
LAEA_EUROPE = LambertAzimuthalEqualArea(
    a=6378137.0,
    inv_f=298.257222101,
    lat0=52.0,
    lon0=10.0,
    x0=4321000.0,
    y0=3210000.0,
)

class PolarStereographic:
    """Ellipsoidal polar stereographic with a standard parallel (Snyder
    1987, pp. 160-162, eqs. 21-33..21-37 / 15-9 — public). The family
    behind the NSIDC sea-ice grids (EPSG:3413 north, 3976 south).
    Forward is closed-form; the inverse iterates the conformal-latitude
    equation (converges in a handful of steps everywhere off the
    opposite pole)."""

    def __init__(
        self,
        a: float,
        inv_f: float,
        lat_ts: float,
        lon0: float,
        x0: float,
        y0: float,
        south: bool = False,
    ) -> None:
        f = 1.0 / inv_f
        self.a = a
        self.e2 = f * (2.0 - f)
        self.e = math.sqrt(self.e2)
        self.lam0 = math.radians(lon0)
        self.x0, self.y0 = x0, y0
        self.south = south
        phi_c = math.radians(abs(lat_ts))
        self.tc = self._t(phi_c)
        self.mc = math.cos(phi_c) / math.sqrt(
            1.0 - self.e2 * math.sin(phi_c) ** 2
        )

    def _t(self, phi: float) -> float:
        # Snyder eq. 15-9: conformal-latitude auxiliary
        es = self.e * math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - es) / (1.0 + es)
        ) ** (self.e / 2.0)

    def forward(self, lon: float, lat: float) -> tuple[float, float]:
        lam, phi = math.radians(lon), math.radians(lat)
        if self.south:
            lam, phi = -lam, -phi
            lam0 = -self.lam0
        else:
            lam0 = self.lam0
        rho = self.a * self.mc * self._t(phi) / self.tc
        dlam = lam - lam0
        x = rho * math.sin(dlam)
        y = -rho * math.cos(dlam)
        if self.south:
            x, y = -x, -y
        return (self.x0 + x, self.y0 + y)

    def inverse(self, x: float, y: float) -> tuple[float, float]:
        dx, dy = x - self.x0, y - self.y0
        if self.south:
            dx, dy = -dx, -dy
            lam0 = -self.lam0
        else:
            lam0 = self.lam0
        rho = math.hypot(dx, dy)
        t = rho * self.tc / (self.a * self.mc)
        # iterate phi = pi/2 - 2*atan(t * ((1-e sinφ)/(1+e sinφ))^(e/2))
        phi = math.pi / 2.0 - 2.0 * math.atan(t)
        for _ in range(12):
            es = self.e * math.sin(phi)
            phi = math.pi / 2.0 - 2.0 * math.atan(
                t * ((1.0 - es) / (1.0 + es)) ** (self.e / 2.0)
            )
        lam = lam0 + (math.atan2(dx, -dy) if rho > 0.0 else 0.0)
        if self.south:
            lam, phi = -lam, -phi
        # the projection's domain spans all longitudes, so lam0 + atan2
        # can leave (-pi, pi] (e.g. lon0=-45, true lon 170 -> -190 deg);
        # normalize so consumers get a valid 4326 longitude
        lam = math.remainder(lam, 2.0 * math.pi)
        return math.degrees(lam), math.degrees(phi)


# NSIDC Sea Ice Polar Stereographic North (EPSG:3413): WGS84,
# standard parallel 70N, central meridian 45W, no false origin.
NSIDC_NORTH = PolarStereographic(
    a=6378137.0,
    inv_f=298.257223563,
    lat_ts=70.0,
    lon0=-45.0,
    x0=0.0,
    y0=0.0,
)

# User-extensible CRS registry: any object with forward(lon, lat) /
# inverse(x, y) keyed by bare EPSG number string. transform() consults
# it for 4326 <-> code pairs, closing the reference's "arbitrary
# metric_projection_srid" contract (terra.py:43,474-494) for every
# TM/LCC/LAEA/polar-stereographic-parameterized grid — which covers
# essentially all national metric grids — without a proj database.
_CRS_REGISTRY: dict[str, object] = {"3035": LAEA_EUROPE, "3413": NSIDC_NORTH}


def register_crs(code: str | int, proj: object) -> None:
    """Register a projection for ``EPSG:<code>`` <-> EPSG:4326
    transforms: ``proj`` must expose ``forward(lon, lat)`` and
    ``inverse(x, y)`` returning coordinate tuples. Use the exported
    ``TransverseMercator``, ``LambertConformalConic``,
    ``LambertAzimuthalEqualArea`` or ``PolarStereographic`` classes for
    standard grids."""
    key = str(code).upper().removeprefix("EPSG:")
    _CRS_REGISTRY[key] = proj


def transform(g: Geom | None, src: str, dst: str) -> Geom | None:
    """``TransformGeom`` (``terra.py:474-494``) in closed form. Built in:
    EPSG:4326 <-> 3857 (spherical mercator), 2154 (Lambert-93), UTM
    32601-32760, 27700 (OSGB), 3035 (ETRS89-LAEA), 3413 (NSIDC polar
    stereographic north). Any other grid:
    :func:`register_crs` with a parameterized ``TransverseMercator`` /
    ``LambertConformalConic`` / ``LambertAzimuthalEqualArea``."""
    if g is None:
        return None

    def norm(c):
        return c.upper().removeprefix("EPSG:")

    s, d = norm(src), norm(dst)
    if s == d:
        return g
    if (s, d) == ("4326", "3857"):
        def fwd(p):
            x = p[0] * math.pi * _R / 180.0
            y = _R * math.log(math.tan(math.pi / 4.0 + p[1] * math.pi / 360.0))
            return (x, y) + tuple(p[2:])

        return _map_coords(g, fwd)
    if (s, d) == ("3857", "4326"):
        def inv(p):
            lon = p[0] * 180.0 / (math.pi * _R)
            lat = (2.0 * math.atan(math.exp(p[1] / _R)) - math.pi / 2.0) * 180.0 / math.pi
            return (lon, lat) + tuple(p[2:])

        return _map_coords(g, inv)
    if (s, d) == ("4326", "2154"):
        return _map_coords(g, lambda p: LAMBERT93.forward(p[0], p[1]) + tuple(p[2:]))
    if (s, d) == ("2154", "4326"):
        return _map_coords(g, lambda p: LAMBERT93.inverse(p[0], p[1]) + tuple(p[2:]))
    proj = _CRS_REGISTRY.get(d) or _tm_for_epsg(d)
    if s == "4326" and proj is not None:
        return _map_coords(g, lambda p: proj.forward(p[0], p[1]) + tuple(p[2:]))
    proj = _CRS_REGISTRY.get(s) or _tm_for_epsg(s)
    if d == "4326" and proj is not None:
        return _map_coords(g, lambda p: proj.inverse(p[0], p[1]) + tuple(p[2:]))
    raise NotImplementedError(
        f"transform {src} -> {dst}; register a projection for the "
        "non-4326 side with geo.ops.register_crs"
    )


def force_2d(g: Geom | None) -> Geom | None:
    """``Geometry3Dto2D`` (``common.py:389-408``)."""
    if g is None:
        return None
    return _map_coords(g, lambda p: (p[0], p[1]))


def snap_to_grid(g: Geom | None, size: float) -> Geom | None:
    """``ST_SnapToGrid`` corner snap (``terra.py:56``)."""
    if g is None:
        return None
    return _map_coords(
        g, lambda p: (math.floor(p[0] / size) * size, math.floor(p[1] / size) * size)
    )


# --- simplify / repair / subdivide ------------------------------------------


def _dp(points, tol):
    """Douglas-Peucker on an open point list."""
    if len(points) < 3:
        return list(points)
    ax, ay = points[0][0], points[0][1]
    bx, by = points[-1][0], points[-1][1]
    dx, dy = bx - ax, by - ay
    norm = math.hypot(dx, dy)
    best, besti = -1.0, -1
    for i in range(1, len(points) - 1):
        px, py = points[i][0], points[i][1]
        if norm <= EPS:
            d = math.hypot(px - ax, py - ay)
        else:
            d = abs(dx * (py - ay) - dy * (px - ax)) / norm
        if d > best:
            best, besti = d, i
    if best <= tol:
        return [points[0], points[-1]]
    left = _dp(points[: besti + 1], tol)
    right = _dp(points[besti:], tol)
    return left[:-1] + right


def simplify(g: Geom | None, tolerance: float) -> Geom | None:
    """Douglas-Peucker (``GEOSGeometry.simplify``; ``SimplifyGeom``
    ``terra.py:450-471``, ``GeometryToJson`` ``common.py:360``).
    tolerance=0 removes collinear vertices — the reference's line
    auto-repair (``common.py:310-312``)."""
    if g is None:
        return None
    kind, data = g
    if kind in ("Point", "MultiPoint"):
        return g
    if kind == "LineString":
        return (kind, _dp(data, tolerance))
    if kind == "MultiLineString":
        return (kind, [_dp(ln, tolerance) for ln in data])

    def ring_simpl(r):
        out = _dp(r[:-1] + [r[0]], tolerance)
        if len(out) < 4:
            return r  # refuse to collapse a ring, like GEOS preserve-ish
        return out

    if kind == "Polygon":
        return (kind, [ring_simpl(r) for r in data])
    if kind == "MultiPolygon":
        return (kind, [[ring_simpl(r) for r in poly] for poly in data])
    return (kind, [simplify(sub, tolerance) for sub in data])


def make_valid(g: Geom | None) -> Geom | None:
    """``buffer(0)``-style repair subset (``common.py:306-309``): close
    unclosed rings, drop consecutive duplicate vertices, drop degenerate
    rings."""
    if g is None:
        return None
    kind, data = g
    if kind not in ("Polygon", "MultiPolygon"):
        return g

    def fix_ring(r):
        out = [r[0]]
        for p in r[1:]:
            if math.hypot(p[0] - out[-1][0], p[1] - out[-1][1]) > EPS:
                out.append(p)
        if math.hypot(out[0][0] - out[-1][0], out[0][1] - out[-1][1]) > EPS:
            out.append(out[0])
        elif len(out) > 1:
            out[-1] = out[0]
        return out if len(out) >= 4 else None

    def fix_poly(rings):
        fixed = [fix_ring(r) for r in rings]
        fixed = [r for r in fixed if r]
        return fixed if fixed and fixed[0] else None

    if kind == "Polygon":
        fixed = fix_poly(data)
        return (kind, fixed) if fixed else POINT_EMPTY
    polys = [fix_poly(p) for p in data]
    polys = [p for p in polys if p]
    return (kind, polys) if polys else POINT_EMPTY


def subdivide(g: Geom | None, max_vertices: int = 256) -> list[Geom]:
    """``ST_Subdivide`` (``SubdivideGeom``, ``terra.py:71-104``):
    recursively quarter the bbox and clip until every part has at most
    ``max_vertices`` vertices. Returns the list of parts (the operator
    layer explodes them into rows with derived child ids)."""
    if g is None or is_empty(g):
        return []
    parts: list[Geom] = []

    def nverts(geom):
        return sum(1 for _ in _points(geom))

    def rec(geom, depth):
        if nverts(geom) <= max_vertices or depth > 24:
            parts.append(geom)
            return
        x0, y0, x1, y1 = bbox(geom)
        xm, ym = (x0 + x1) / 2.0, (y0 + y1) / 2.0
        quads = [
            (x0, y0, xm, ym),
            (xm, y0, x1, ym),
            (x0, ym, xm, y1),
            (xm, ym, x1, y1),
        ]
        for qx0, qy0, qx1, qy1 in quads:
            rect = (
                "Polygon",
                [[(qx0, qy0), (qx1, qy0), (qx1, qy1), (qx0, qy1), (qx0, qy0)]],
            )
            piece = intersection(geom, rect)
            if not is_empty(piece) and area(piece) > EPS:
                rec(piece, depth + 1)

    rec(g, 0)
    return parts


def envelope(g: Geom | None) -> Geom:
    bb = bbox(g) if g is not None else None
    if bb is None:
        return POINT_EMPTY
    x0, y0, x1, y1 = bb
    return ("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])
