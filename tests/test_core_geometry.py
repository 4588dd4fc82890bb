"""M0 goldens: numpy geometry kernel (PIP, clipping, areas, WKB)."""

from fractions import Fraction

import numpy as np
import pytest

from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb


def square(x0, y0, s):
    return np.array(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], dtype=float
    )


def test_ring_area():
    assert G.ring_signed_area(square(0, 0, 10)) == pytest.approx(100.0)
    # clockwise ring -> negative signed area
    assert G.ring_signed_area(square(0, 0, 10)[::-1]) == pytest.approx(-100.0)


def test_polygon_area_with_hole():
    outer = square(0, 0, 10)
    hole = square(2, 2, 3)
    assert G.polygon_area([outer, hole]) == pytest.approx(100 - 9)


def test_points_in_polygon_basic_and_hole():
    poly = [square(0, 0, 10), square(2, 2, 3)]  # hole [2,5]x[2,5]
    px = np.array([1.0, 3.0, 11.0, 6.0, -0.5])
    py = np.array([1.0, 3.0, 5.0, 6.0, 5.0])
    got = G.points_in_polygon(px, py, poly)
    assert got.tolist() == [True, False, False, True, False]


def test_points_in_concave_polygon():
    # L-shape: big square minus top-right quadrant
    ring = np.array(
        [[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], dtype=float
    )
    px = np.array([7.0, 7.0, 2.0, 4.9, 5.1])
    py = np.array([2.0, 7.0, 8.0, 9.9, 9.9])
    got = G.points_in_polygon(px, py, [ring])
    assert got.tolist() == [True, False, True, True, False]


def test_points_in_multipolygon():
    mp = [[square(0, 0, 2)], [square(10, 10, 2)]]
    px = np.array([1.0, 11.0, 5.0])
    py = np.array([1.0, 11.0, 5.0])
    assert G.points_in_multipolygon(px, py, mp).tolist() == [True, True, False]


def test_clip_ring_full_inside_outside_partial():
    ring = square(2, 2, 4)  # [2,6]^2
    # fully inside the clip rect
    assert G.clip_area([ring], 0, 0, 10, 10) == pytest.approx(16.0)
    # disjoint
    assert G.clip_area([ring], 7, 7, 9, 9) == pytest.approx(0.0)
    # half overlap
    assert G.clip_area([ring], 4, 0, 10, 10) == pytest.approx(8.0)
    # quarter overlap
    assert G.clip_area([ring], 4, 4, 10, 10) == pytest.approx(4.0)


def test_clip_concave_produces_correct_area():
    # L-shape area 75; clip to right half x>=5 -> remaining 5x5 square = 25
    ring = np.array(
        [[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], dtype=float
    )
    assert G.polygon_area([ring]) == pytest.approx(75.0)
    assert G.clip_area([ring], 5, 0, 10, 10) == pytest.approx(25.0)


def test_clip_polygon_with_hole():
    poly = [square(0, 0, 10), square(4, 4, 2)]  # area 100-4=96
    # clip to left half [0,5]: outer 50, hole part [4,5]x[4,6] = 2
    assert G.clip_area(poly, 0, 0, 5, 10) == pytest.approx(48.0)


def test_rect_intersection_area_vectorized():
    a = np.array([0.0]), np.array([0.0]), np.array([10.0]), np.array([10.0])
    b = np.array([5.0]), np.array([5.0]), np.array([15.0]), np.array([15.0])
    out = G.rect_intersection_area(*a, *b)
    assert out[0] == pytest.approx(25.0)
    # disjoint clamps to zero
    c = np.array([20.0]), np.array([20.0]), np.array([30.0]), np.array([30.0])
    assert G.rect_intersection_area(*a, *c)[0] == 0.0


def test_wkb_roundtrip_polygon():
    poly = [square(0, 0, 10), square(2, 2, 3)]
    buf = wkb.encode_polygon(poly)
    kind, mp = wkb.decode(buf)
    assert kind == "multipolygon" and len(mp) == 1 and len(mp[0]) == 2
    assert G.polygon_area(mp[0]) == pytest.approx(91.0)


def test_wkb_roundtrip_multipolygon_and_point():
    mp_in = [[square(0, 0, 1)], [square(5, 5, 2), square(5.5, 5.5, 0.5)]]
    buf = wkb.encode_multipolygon(mp_in)
    kind, mp = wkb.decode(buf)
    assert kind == "multipolygon" and len(mp) == 2
    assert G.multipolygon_area(mp) == pytest.approx(1 + 4 - 0.25)
    kind, (x, y) = wkb.decode(wkb.encode_point(3.5, -7.25))
    assert kind == "point" and (x, y) == (3.5, -7.25)


def test_wkb_box_helper():
    kind, mp = wkb.decode(wkb.encode_box(1, 2, 4, 6))
    assert G.multipolygon_area(mp) == pytest.approx(12.0)
    assert G.multipolygon_bbox(mp) == (1, 2, 4, 6)


def test_multipolygon_clip_area_bbox_shortcircuit():
    mp = [[square(0, 0, 4)], [square(100, 100, 4)]]
    assert G.multipolygon_clip_area(mp, 2, 2, 102, 102) == pytest.approx(4.0 + 4.0)
    assert G.multipolygon_clip_area(mp, 50, 50, 60, 60) == 0.0


# --- A12/A13 geometry forms (round 2) ----------------------------------------


def _sq(x0, y0, x1, y1):
    return [[np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], float)]]


def test_union_area_geometry_form():
    A, B = _sq(0, 0, 2, 2), _sq(1, 1, 3, 3)
    assert abs(G.union_area([A, B], tol=1e-7) - 7.0) < 1e-5
    assert abs(G.union_area([A, _sq(10, 10, 12, 12)]) - 8.0) < 1e-9  # disjoint
    assert abs(G.union_area([A, _sq(0.5, 0.5, 1.5, 1.5)], tol=1e-7) - 4.0) < 1e-5  # nested
    assert G.union_area([A]) == 4.0  # single geometry: exact shoelace
    # non-rect: right triangle (area 8) union offset square, overlap 2
    T = [[np.array([(0, 0), (4, 0), (0, 4), (0, 0)], float)]]
    assert abs(G.union_area([T, _sq(1, 1, 3, 3)], tol=1e-6) - 10.0) < 1e-4


def test_intersection_area_geometry_form():
    A, B = _sq(0, 0, 2, 2), _sq(1, 1, 3, 3)
    assert abs(G.intersection_area([A, B], tol=1e-7) - 1.0) < 1e-5
    assert G.intersection_area([A, _sq(10, 10, 12, 12)]) == 0.0
    assert abs(G.intersection_area([A, A, A], tol=1e-7) - 4.0) < 1e-5


def test_union_intersection_membership_exact():
    A, B = _sq(0, 0, 2, 2), _sq(1, 1, 3, 3)
    px = np.array([1.5, 2.5, 0.5, 5.0])
    py = np.array([1.5, 2.5, 0.5, 5.0])
    assert G.points_in_union(px, py, [A, B]).tolist() == [True, True, True, False]
    assert G.points_in_intersection(px, py, [A, B]).tolist() == [True, False, False, False]


def test_union_geometry_blocks():
    """A12 geometry form (round 3): inner/outer quadtree covers bound the
    exact union geometrically and by area; dyadic rect inputs are exact."""
    import numpy as np

    from pygridmap_spark.core import geometry as G
    from pygridmap_spark.core import wkb

    sq = lambda x0, y0, s: [[np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])]]  # noqa: E731
    # dyadic-aligned rects: decided exactly, boundary empties out
    a, b = sq(0.0, 0.0, 2.0), sq(1.0, 0.0, 2.0)  # 2x2 + 2x2 - 1x2 overlap = 6
    inside, boundary = G.union_blocks([a, b], 1e-6)
    got = sum((r[2] - r[0]) * (r[3] - r[1]) for r in inside)
    assert got == pytest.approx(6.0, rel=1e-12)
    assert boundary == []
    # irregular union: inner <= exact <= outer, both within tol*bbox_area
    rng = np.random.default_rng(9)
    polys = []
    for i in range(2):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        r = rng.uniform(0.5, 1.2, 7)
        ring = np.c_[np.cos(ang) * r + i, np.sin(ang) * r + 0.3 * i]
        polys.append([[ring]])  # multipolygon with one 1-ring polygon
    exact = G.union_area(polys, tol=1e-4)
    tol = 3e-3
    inner = G.union_geometry(polys, tol=tol, cover="inner")
    outer = G.union_geometry(polys, tol=tol, cover="outer")
    ai, ao = G.multipolygon_area(inner), G.multipolygon_area(outer)
    bbox = G.multipolygon_bbox([p for mp in polys for p in mp])
    bbox_area = (bbox[2] - bbox[0]) * (bbox[3] - bbox[1])
    slack = tol * bbox_area
    ref_err = 1e-4 * bbox_area  # exact itself carries its own tol
    assert ai <= exact + ref_err and exact <= ao + ref_err
    assert exact - ai <= slack + ref_err and ao - exact <= slack + ref_err
    # inner blocks are genuinely inside: sampled points are union members
    px, py = [], []
    for poly in inner[:50]:
        ring = poly[0]
        px.append(ring[:, 0].mean())
        py.append(ring[:, 1].mean())
    assert G.points_in_union(np.array(px), np.array(py), polys).all()
    # the geometry round-trips through WKB
    buf = wkb.encode_multipolygon(inner)
    assert G.multipolygon_area(wkb.decode_multipolygon(buf)) == pytest.approx(ai, rel=1e-12)


def test_dissolve_multipolygon():
    """Seam removal: triangle fragments of a concave clip dissolve back to
    one clean polygon; areas and membership are ALWAYS preserved (fallback
    contract)."""
    import numpy as np

    from pygridmap_spark.core import geometry as G

    sq = lambda x0, y0, s: [np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])]  # noqa: E731
    L = [np.array([[0.0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]])]
    frags = G.intersect_polygons(sq(0, 0, 2), L)
    assert len(frags) > 1  # concave clip produced seams
    d = G.dissolve_multipolygon(frags)
    assert len(d) == 1 and len(d[0]) == 1 and len(d[0][0]) == 6  # clean L ring
    assert G.multipolygon_area(d) == pytest.approx(3.0, rel=1e-12)
    # irregular pair: area + membership identical, fewer or equal parts
    rng = np.random.default_rng(5)
    n = 9
    sp = 2 * np.pi / n
    mk = lambda cx, cy, seed_r: np.c_[  # noqa: E731
        np.cos(np.arange(n) * sp + rng.uniform(-0.2, 0.2, n) * sp) * seed_r + cx,
        np.sin(np.arange(n) * sp + rng.uniform(-0.2, 0.2, n) * sp) * seed_r + cy,
    ]
    a = mk(1.5, 1.5, rng.uniform(0.6, 1.5, n))
    b = mk(2.0, 2.0, rng.uniform(0.6, 1.5, n))
    frags = G.intersect_multipolygons([[a]], [[b]])
    d = G.dissolve_multipolygon(frags)
    assert len(d) <= len(frags)
    assert G.multipolygon_area(d) == pytest.approx(G.multipolygon_area(frags), rel=1e-12)
    px = rng.uniform(0, 4, 400)
    py = rng.uniform(0, 4, 400)
    assert (
        G.points_in_multipolygon(px, py, d) == G.points_in_multipolygon(px, py, frags)
    ).all()
    # holey subject: even-odd area preserved through the dissolve
    holey = [
        np.array([[0.0, 0], [4, 0], [4, 4], [0, 4]]),
        np.array([[0.2, 0.2], [0.2, 0.8], [0.8, 0.8], [0.8, 0.2]]),
    ]
    frags = G.intersect_polygons(holey, L)
    d = G.dissolve_multipolygon(frags)
    assert G.multipolygon_area(d) == pytest.approx(3.0 - 0.36, rel=1e-12)


def test_dissolve_strict_no_fallback_on_kernel_outputs():
    """The pinned no-fallback guarantee: every piece set the boolean kernel
    itself produces (S-H rect clips of convex/concave subjects, triangle
    fragments, holey subjects) dissolves STRICTLY — a silent fallback
    would raise here."""
    import numpy as np

    def sq(x0, y0, s):
        return [np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]], dtype=float)]

    L = [np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]], dtype=float)]
    concave = [np.array([[0, 0], [3, 0], [3, 3], [2, 1.5], [0, 3]], dtype=float)]
    holey = [sq(0, 0, 2)[0], sq(0.5, 0.5, 1)[0]]
    cases = [
        G.intersect_polygons(sq(0, 0, 2), L),
        G.intersect_polygons(holey, L),
        G.intersect_polygons(sq(0.5, 0.5, 2), concave),
        G.intersect_multipolygons([sq(0, 0, 2), sq(3, 0, 2)], [L]),
    ]
    # plus the rect-piece family: a polygon cut along grid lines
    grid_pieces = []
    for cx in range(3):
        for cy in range(3):
            c = G.clip_polygon_to_rect(concave[0:1], cx, cy, cx + 1, cy + 1)
            if c:
                grid_pieces.append(c)
    cases.append(grid_pieces)
    for i, frags in enumerate(cases):
        assert len(frags) > 1, i  # the dissolve has real work to do
        d = G.dissolve_multipolygon(frags, strict=True)  # raises on fallback
        assert abs(G.multipolygon_area(d) - G.multipolygon_area(frags)) < 1e-9, i
        assert len(d) < len(frags) or sum(len(p[0]) for p in d) < sum(
            len(p[0]) for p in frags
        ), i  # seams actually removed


def test_union_geometry_exact_rects():
    import numpy as np

    def rect_mp(x0, y0, x1, y1):
        return [[np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)]]

    # overlapping pair -> one L/plus-shaped outline, exact area
    u = G.union_geometry([rect_mp(0, 0, 2, 2), rect_mp(1, 1, 3, 3)], exact=True)
    assert len(u) == 1 and len(u[0]) == 1
    assert abs(G.multipolygon_area(u) - 7.0) < 1e-12  # 4 + 4 - 1
    assert len(u[0][0]) == 8  # the dissolved outline, not block fragments
    # disconnected pair -> two polygons
    u2 = G.union_geometry([rect_mp(0, 0, 1, 1), rect_mp(5, 5, 6, 6)], exact=True)
    assert len(u2) == 2 and abs(G.multipolygon_area(u2) - 2.0) < 1e-12
    # frame of 4 rects around an empty centre -> outer ring + hole
    frame = [
        rect_mp(0, 0, 3, 1), rect_mp(0, 2, 3, 3),
        rect_mp(0, 1, 1, 2), rect_mp(2, 1, 3, 2),
    ]
    u3 = G.union_geometry(frame, exact=True)
    assert len(u3) == 1 and len(u3[0]) == 2  # outer + hole
    assert abs(G.multipolygon_area(u3) - 8.0) < 1e-12
    # non-dyadic coordinates stay exact (the quadtree form cannot do this)
    u4 = G.union_geometry(
        [rect_mp(0.1, 0.1, 0.7, 0.5), rect_mp(0.3, 0.2, 0.9, 0.8)], exact=True
    )
    want = 0.6 * 0.4 + 0.6 * 0.6 - 0.4 * 0.3
    assert abs(G.multipolygon_area(u4) - want) < 1e-12
    # non-rect input routes through the general arrangement path (r5)
    tri = [[[np.array([[0, 0], [1, 0], [0.5, 1]], dtype=float)]]]
    u5 = G.union_geometry(tri, exact=True)
    assert abs(G.multipolygon_area(u5) - 0.5) < 1e-12


def test_union_exact_general_shapes():
    """The last reference-semantics gap (base.py:504-516 unary_union via
    GEOS): exact dissolved union GEOMETRY for arbitrary overlapping
    concave/holed inputs — arrangement trapezoids + strict dissolve."""

    def mp(*rings):
        return [[np.array(r, dtype=float) for r in rings]]

    # overlapping triangles: inclusion-exclusion exact area
    t1 = mp([(0, 0), (4, 0), (2, 3)])
    t2 = mp([(2, 0), (6, 0), (4, 3)])
    u = G.union_exact([t1, t2])
    assert abs(G.multipolygon_area(u) - 10.5) < 1e-12  # 6 + 6 - 1.5
    assert len(u) == 1
    # concave L + overlapping rect == quadtree union_area at tight tol
    L = mp([(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)])
    r = mp([(2, 0.5), (4, 0.5), (4, 2), (2, 2)])
    u2 = G.union_exact([L, r])
    assert abs(G.multipolygon_area(u2) - 7.5) < 1e-12
    # holed square + plug floating inside the hole: topology preserved
    holed = [[
        np.array([(0, 0), (10, 0), (10, 10), (0, 10)], dtype=float),
        np.array([(3, 3), (7, 3), (7, 7), (3, 7)], dtype=float),
    ]]
    plug = mp([(4, 4), (6, 4), (6, 6), (4, 6)])
    u3 = G.union_exact([holed, plug])
    assert abs(G.multipolygon_area(u3) - 88.0) < 1e-12
    assert sorted(len(p) for p in u3) == [1, 2]  # plug + (outer, hole)
    # hole fully plugged: hole ring disappears
    big_plug = mp([(2.5, 2.5), (7.5, 2.5), (7.5, 7.5), (2.5, 7.5)])
    u3b = G.union_exact([holed, big_plug])
    assert abs(G.multipolygon_area(u3b) - 100.0) < 1e-12
    assert len(u3b) == 1 and len(u3b[0]) == 1
    # disjoint stays disjoint; duplicates collapse
    u4 = G.union_exact([t1, mp([(50, 50), (51, 50), (50.5, 51)])])
    assert len(u4) == 2 and abs(G.multipolygon_area(u4) - 6.5) < 1e-12
    u5 = G.union_exact([t1, t1, t1])
    assert abs(G.multipolygon_area(u5) - 6.0) < 1e-12
    # shared-boundary adjacency (no overlap): seam dissolves away
    a = mp([(0, 0), (2, 0), (2, 2), (0, 2)])
    b = mp([(2, 0), (4, 0), (4, 2), (2, 2)])
    u6 = G.union_exact([a, b])
    assert len(u6) == 1 and abs(G.multipolygon_area(u6) - 8.0) < 1e-12
    assert len(u6[0][0]) == 4  # clean rect outline, seam vertices gone
    # membership parity with points_in_union on a probe grid
    gx, gy = np.meshgrid(np.linspace(-0.5, 6.5, 29), np.linspace(-0.5, 3.5, 17))
    want = G.points_in_union(gx.ravel(), gy.ravel(), [t1, t2])
    got = G.points_in_multipolygon(gx.ravel(), gy.ravel(), u)
    assert np.array_equal(want, got)


def test_clip_ring_scalar_path_bit_identical_to_numpy_form():
    """The r5 scalar-arithmetic S-H rewrite must be BIT-identical to the
    original numpy-row form (frozen here as the reference twin): the
    strict dissolve's shared-edge cancellation and the piece-WKB oracles
    both ride on every clip producing exactly the same bytes."""
    import numpy as np

    def ref_isect(p, q, axis, bound):
        t = (bound - p[axis]) / (q[axis] - p[axis])
        r = p + t * (q - p)
        r[axis] = bound
        return r

    def ref_clip(ring, xmin, ymin, xmax, ymax):
        pts = np.asarray(ring, dtype=np.float64)
        if len(pts) > 1 and pts[0, 0] == pts[-1, 0] and pts[0, 1] == pts[-1, 1]:
            pts = pts[:-1]
        for axis, bound, keep_ge in (
            (0, xmin, True), (0, xmax, False), (1, ymin, True), (1, ymax, False)
        ):
            if len(pts) == 0:
                return pts.reshape(0, 2)
            vals = pts[:, axis]
            inside = vals >= bound if keep_ge else vals <= bound
            out = []
            for i in range(len(pts)):
                j = (i + 1) % len(pts)
                if inside[i]:
                    out.append(pts[i])
                    if not inside[j]:
                        out.append(ref_isect(pts[i].copy(), pts[j], axis, bound))
                elif inside[j]:
                    out.append(ref_isect(pts[i].copy(), pts[j], axis, bound))
            pts = np.asarray(out, dtype=np.float64).reshape(-1, 2)
        return pts

    rng = np.random.default_rng(42)
    for _ in range(800):
        n = rng.integers(3, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(1, 50, n)
        cx, cy = rng.uniform(-20, 20, 2)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        x0, y0 = rng.uniform(-40, 20, 2)
        w, h = rng.uniform(1, 60), rng.uniform(1, 60)
        a = ref_clip(ring, x0, y0, x0 + w, y0 + h)
        b = G.clip_ring_to_rect(ring, x0, y0, x0 + w, y0 + h)
        assert a.shape == b.shape
        assert np.array_equal(a, b)


# ---------------------------------------------------------------------------
# multipolygon_rect_areas against an exact rational oracle
# ---------------------------------------------------------------------------


def _exact_clip_area(mp, rect):
    """area(mp ∩ rect) in exact rationals: Sutherland–Hodgman of each ring
    against the rect, shoelace, |outer| − Σ|holes| floored at 0 per
    polygon, parts summed."""
    x0, y0, x1, y1 = map(Fraction, rect)

    def cut_x(p, q, x):
        return (x, p[1] + (x - p[0]) * (q[1] - p[1]) / (q[0] - p[0]))

    def cut_y(p, q, y):
        return (p[0] + (y - p[1]) * (q[0] - p[0]) / (q[1] - p[1]), y)

    sides = (
        (lambda p: p[0] >= x0, lambda p, q: cut_x(p, q, x0)),
        (lambda p: p[0] <= x1, lambda p, q: cut_x(p, q, x1)),
        (lambda p: p[1] >= y0, lambda p, q: cut_y(p, q, y0)),
        (lambda p: p[1] <= y1, lambda p, q: cut_y(p, q, y1)),
    )

    def clipped_area(ring):
        pts = [(Fraction(x), Fraction(y)) for x, y in ring]
        for inside, cut in sides:
            out = []
            for p, q in zip(pts, pts[1:] + pts[:1]):
                if inside(p):
                    out.append(p)
                if inside(p) != inside(q):
                    out.append(cut(p, q))
            pts = out
        return abs(sum(p[0] * q[1] - q[0] * p[1] for p, q in zip(pts, pts[1:] + pts[:1]))) / 2

    total = Fraction(0)
    for poly in mp:
        total += max(clipped_area(poly[0]) - sum(clipped_area(h) for h in poly[1:]), Fraction(0))
    return total


def _rings(mp):
    return [[np.array(r, dtype=float) for r in poly] for poly in mp]


L_SHAPE = [(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0)]
HOLED_TRIANGLE = [
    [(0.0, 0.0), (6.0, 0.5), (3.0, 5.5)],
    [(2.0, 1.0), (3.0, 3.0), (4.0, 1.5)],
]
DIAMONDS = [
    [[(7.0, 2.0), (8.5, 0.5), (10.0, 2.0), (8.5, 3.5)]],
    [[(7.25, 5.0), (8.1, 4.2), (9.7, 5.3), (8.3, 6.9), (7.0, 5.0)]],
]
# self-intersecting: lobes of area 3 and 12 wound opposite ways, crossing
# on the lattice corner (2, 2)
BOWTIE = [(0.0, 0.0), (6.0, 6.0), (6.0, 0.0), (0.0, 3.0)]


@pytest.mark.parametrize(
    "mp",
    [
        [[L_SHAPE]],  # counter-clockwise, unclosed, vertical and horizontal edges
        [[L_SHAPE[::-1] + [L_SHAPE[-1]]]],  # clockwise, closed
        [HOLED_TRIANGLE],  # both rings counter-clockwise
        [[HOLED_TRIANGLE[0][::-1], HOLED_TRIANGLE[1]]],  # clockwise outer
        DIAMONDS,  # multipolygon, vertices on cell lines and corners
        [[BOWTIE]],  # either lobe covers positive area, as its S-H clip does
    ],
)
def test_rect_areas_match_exact_oracle(mp):
    """Unit lattice cells (vertices on their lines and corners), half-cell
    shifted cells, and random rects: within 1e-9 of each rect's area of
    the exact clip; rects the polygon does not reach are exactly 0.0 and
    covered ones exactly their area."""
    rng = np.random.default_rng(7)
    gx, gy = np.meshgrid(np.arange(-1.0, 11.0), np.arange(-1.0, 8.0))
    cells = np.column_stack([gx.ravel(), gy.ravel(), gx.ravel() + 1, gy.ravel() + 1])
    rects = np.concatenate(
        [
            cells,
            cells[:, [0, 1, 0, 1]] + [0.5, 0.5, 1.0, 1.5],
            np.column_stack([rng.uniform(-1, 11, (60, 2)), rng.uniform(0.05, 4.0, (60, 2))]) @ np.array(
                [[1, 0, 1, 0], [0, 1, 0, 1], [0, 0, 1, 0], [0, 0, 0, 1]], dtype=float
            ),
            [[20.0, 20.0, 21.0, 21.0], [-5.0, -5.0, -1.0, 12.0]],  # not reached
        ]
    )
    got = G.multipolygon_rect_areas(_rings(mp), *rects.T)
    full = (rects[:, 2] - rects[:, 0]) * (rects[:, 3] - rects[:, 1])
    want = np.array([float(_exact_clip_area(mp, r)) for r in rects.tolist()])
    assert np.all(np.abs(got - want) <= 1e-9 * full)
    assert got[-2] == 0.0 and got[-1] == 0.0
    bbox = G.multipolygon_bbox(_rings(mp))
    far = (rects[:, 0] > bbox[2]) | (rects[:, 2] < bbox[0]) | (rects[:, 1] > bbox[3]) | (rects[:, 3] < bbox[1])
    assert far.sum() > 10 and np.all(got[far] == 0.0)
    assert G.multipolygon_rect_areas(_rings(mp), [], [], [], []).shape == (0,)


def test_rect_areas_covered_and_chunked(monkeypatch):
    """A rect no edge meets inside the polygon takes exactly its full area,
    in either orientation, and one inside a hole exactly 0.0; a chunk
    budget smaller than one ring's edges gives the same areas, rect for
    rect."""
    for ring in (L_SHAPE, L_SHAPE[::-1]):
        assert G.multipolygon_rect_areas(_rings([[ring]]), [0.25], [0.25], [1.75], [3.5])[0] == 1.5 * 3.25
    mp = _rings([HOLED_TRIANGLE, *DIAMONDS])
    rects = np.array([[3.0, 0.75, 3.5, 0.875], [2.9, 1.6, 3.1, 1.8], [8.0, 1.5, 9.0, 2.5], [-1.0, -1.0, 11.0, 8.0]])
    got = G.multipolygon_rect_areas(mp, *rects.T)
    assert got.tolist()[:3] == [0.5 * 0.125, 0.0, 1.0]
    assert got[3] == pytest.approx(G.multipolygon_area(mp), rel=1e-12)
    rng = np.random.default_rng(3)
    lo = rng.uniform(-1, 11, (500, 2))
    many = np.column_stack([lo, lo + rng.uniform(0.01, 2.0, (500, 2))])
    want = G.multipolygon_rect_areas(mp, *many.T)
    monkeypatch.setattr(G, "RECT_AREA_BUDGET", 7)
    assert np.array_equal(G.multipolygon_rect_areas(mp, *many.T), want)
