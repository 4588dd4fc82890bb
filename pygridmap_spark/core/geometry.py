"""Vectorized numpy geometry kernel (no shapely / GEOS dependency).

This is the exact-phase engine behind the two-phase spatial joins:
point-in-polygon (even-odd ray casting), rect coverage (area(polygon ∩
rect) for many rects in one evaluation, :func:`multipolygon_rect_areas` —
the cell classifier's kernel), polygon-clipped-to-rectangle as geometry
(Sutherland–Hodgman — grid cells are axis-aligned rectangles, a convex
clip window, so S-H is exact; used where piece geometry is emitted and by
the union kernels), and shoelace areas. Everything is array-at-a-time so
it runs efficiently inside Arrow-batched pandas UDFs.

Semantics parity targets (re-derived, not copied):
- piece area / area_pct:  /root/reference/pygridmap/overlay.py:326-335
- clip + empty filters:   /root/reference/pygridmap/overlay.py:244-284
- within/intersects flags: /root/reference/pygridmap/gridding.py:174-188

Polygons are represented as a list of rings, each ring an (N, 2) float64
array, first ring the outer shell, subsequent rings holes (even-odd rule —
ring orientation is irrelevant). MultiPolygons are lists of such polygons.
"""

from __future__ import annotations

import numpy as np

Ring = np.ndarray  # (N, 2)
Polygon = list  # list[Ring]
MultiPolygon = list  # list[Polygon]


def ring_signed_area(ring: Ring) -> float:
    """Shoelace signed area; positive for counter-clockwise rings.

    The shifted arrays are built by slice assignment, not ``np.roll`` —
    same element values in the same np.sum order (bit-identical results),
    but np.roll's axis-normalization overhead dominated profiles with
    millions of tiny rings (the arrangement kernel's trapezoids)."""
    x, y = ring[:, 0], ring[:, 1]
    n = len(x)
    if n < 3:
        return 0.0
    xn = np.empty_like(x)
    yn = np.empty_like(y)
    xn[:-1] = x[1:]
    xn[-1] = x[0]
    yn[:-1] = y[1:]
    yn[-1] = y[0]
    return 0.5 * float(np.sum(x * yn - xn * y))


def polygon_area(polygon: Polygon) -> float:
    """Even-odd area: |outer| minus the |holes|."""
    if not polygon:
        return 0.0
    area = abs(ring_signed_area(polygon[0]))
    for hole in polygon[1:]:
        area -= abs(ring_signed_area(hole))
    return max(area, 0.0)


def multipolygon_area(mp: MultiPolygon) -> float:
    return float(sum(polygon_area(p) for p in mp))


def ring_bbox(ring: Ring) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


def multipolygon_bbox(mp: MultiPolygon) -> tuple[float, float, float, float]:
    bxs = [ring_bbox(p[0]) for p in mp if len(p)]
    if not bxs:
        raise ValueError("empty multipolygon has no bbox (skip empty geometries)")
    xmin = min(b[0] for b in bxs)
    ymin = min(b[1] for b in bxs)
    xmax = max(b[2] for b in bxs)
    ymax = max(b[3] for b in bxs)
    return xmin, ymin, xmax, ymax


# ---------------------------------------------------------------------------
# point-in-polygon (vectorized even-odd ray casting)
# ---------------------------------------------------------------------------


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: Ring) -> np.ndarray:
    """Even-odd crossing test of many points against one ring.

    Vectorized over points AND edges: O(P*E) flops, no Python loop over
    points. Points exactly on a horizontal edge may resolve either way
    (standard ray-cast caveat); the engine's two-phase joins only call this
    for boundary cells, and goldens avoid degenerate on-edge points.
    """
    # treat the ring as cyclic whether or not the closing vertex is
    # repeated (WKB in the wild is not always explicitly closed; the
    # shoelace wraps the same way, so PIP must agree)
    if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
        ring = np.vstack([ring, ring[:1]])
    x0, y0 = ring[:-1, 0], ring[:-1, 1]  # edge starts
    x1, y1 = ring[1:, 0], ring[1:, 1]  # edge ends
    px = px[:, None]
    py = py[:, None]
    # half-open vertical straddle avoids double counting shared vertices
    straddle = (y0 > py) != (y1 > py)
    # x coordinate where the edge crosses the point's horizontal ray
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = x0 + (py - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
    crossings = straddle & (px < xcross)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_polygon(px: np.ndarray, py: np.ndarray, polygon: Polygon) -> np.ndarray:
    """Even-odd over all rings: inside outer XOR inside any hole."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in polygon:
        inside ^= points_in_ring(px, py, ring)
    return inside


def points_in_multipolygon(px: np.ndarray, py: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    inside = np.zeros(len(px), dtype=bool)
    for poly in mp:
        # quick bbox reject per part keeps the edge loop small
        if not len(poly):
            continue
        xmin, ymin, xmax, ymax = ring_bbox(poly[0])
        cand = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax) & ~inside
        if cand.any():
            idx = np.nonzero(cand)[0]
            inside[idx] |= points_in_polygon(px[idx], py[idx], poly)
    return inside


# ---------------------------------------------------------------------------
# rectangle clipping (Sutherland–Hodgman against an axis-aligned rect)
# ---------------------------------------------------------------------------


def clip_ring_to_rect(ring: Ring, xmin: float, ymin: float, xmax: float, ymax: float) -> Ring:
    """Clip one ring to a rectangle. Returns the clipped ring ((M, 2),
    possibly empty). Rect is convex so Sutherland–Hodgman is exact for any
    simple subject ring.

    Scalar-arithmetic inner loop (python floats via .tolist()): identical
    IEEE expressions to the previous numpy-row form — bit-identical
    output, pinned by an A/B test — but ~3x less per-clip overhead. Cell
    classification does not clip: it runs :func:`multipolygon_rect_areas`."""
    pts = np.asarray(ring, dtype=np.float64)
    # drop duplicated closing vertex; S-H treats the ring as cyclic
    if len(pts) > 1 and pts[0, 0] == pts[-1, 0] and pts[0, 1] == pts[-1, 1]:
        pts = pts[:-1]
    cur = pts.tolist()
    for axis, bound, keep_ge in ((0, xmin, True), (0, xmax, False), (1, ymin, True), (1, ymax, False)):
        n = len(cur)
        if n == 0:
            return np.empty((0, 2), dtype=np.float64)
        if keep_ge:
            ins = [p[axis] >= bound for p in cur]
        else:
            ins = [p[axis] <= bound for p in cur]
        out = []
        for i in range(n):
            j = i + 1 if i + 1 < n else 0
            if ins[i]:
                out.append(cur[i])
                if not ins[j]:
                    out.append(_axis_intersect(cur[i], cur[j], axis, bound))
            elif ins[j]:
                out.append(_axis_intersect(cur[i], cur[j], axis, bound))
        cur = out
    return np.asarray(cur, dtype=np.float64).reshape(-1, 2)


def _axis_intersect(p, q, axis: int, bound: float):
    """Exact-on-the-clip-line segment/axis intersection; identical IEEE
    expression to the previous numpy form (t then p + t*(q-p) per axis)."""
    if axis == 0:
        t = (bound - p[0]) / (q[0] - p[0])
        return [bound, p[1] + t * (q[1] - p[1])]
    t = (bound - p[1]) / (q[1] - p[1])
    return [p[0] + t * (q[0] - p[0]), bound]


def clip_polygon_to_rect(
    polygon: Polygon, xmin: float, ymin: float, xmax: float, ymax: float
) -> Polygon:
    """Clip polygon (outer + holes) to a rect; empty rings dropped."""
    out = []
    for ring in polygon:
        clipped = clip_ring_to_rect(ring, xmin, ymin, xmax, ymax)
        if len(clipped) >= 3:
            out.append(clipped)
    return out


def clip_area(polygon: Polygon, xmin: float, ymin: float, xmax: float, ymax: float) -> float:
    """Area of polygon ∩ rect — the overlay piece-area kernel (A1)."""
    clipped = clip_polygon_to_rect(polygon, xmin, ymin, xmax, ymax)
    return polygon_area(clipped) if clipped else 0.0


def multipolygon_clip_area(
    mp: MultiPolygon, xmin: float, ymin: float, xmax: float, ymax: float
) -> float:
    total = 0.0
    for poly in mp:
        if not len(poly):
            continue
        bxmin, bymin, bxmax, bymax = ring_bbox(poly[0])
        if bxmax < xmin or bxmin > xmax or bymax < ymin or bymin > ymax:
            continue
        total += clip_area(poly, xmin, ymin, xmax, ymax)
    return total


def multipolygon_clip(
    mp: MultiPolygon, xmin: float, ymin: float, xmax: float, ymax: float
) -> MultiPolygon:
    """mp ∩ rect as GEOMETRY (list of clipped polygons, holes included) —
    the piece-geometry form of :func:`multipolygon_clip_area` (reference
    overlay.py:296-297 carries the gpd.overlay pieces; the area kernel
    discards the rings this returns). Invariant pinned by tests:
    ``polygon_area`` summed over the result equals multipolygon_clip_area
    exactly (same rings, same shoelace)."""
    out: MultiPolygon = []
    for poly in mp:
        if not len(poly):
            continue
        bxmin, bymin, bxmax, bymax = ring_bbox(poly[0])
        if bxmax < xmin or bxmin > xmax or bymax < ymin or bymin > ymax:
            continue
        clipped = clip_polygon_to_rect(poly, xmin, ymin, xmax, ymax)
        if clipped and polygon_area(clipped) != 0.0:
            out.append(clipped)
    return out


# ---------------------------------------------------------------------------
# rect coverage: area(polygon ∩ rect) for many rects in one evaluation
# ---------------------------------------------------------------------------

#: edge x rect elements per array of one :func:`multipolygon_rect_areas` step
RECT_AREA_BUDGET = 1 << 16


def _ring_rect_integrals(ring: Ring, x0, y0, x1, y1) -> tuple[np.ndarray, np.ndarray]:
    """Signed area (counter-clockwise positive) of an open ring ∩ each rect,
    and whether any edge meets the closed rect. Per edge, the integral of
    ``clamp(y(x), y0, y1) - y0`` over the edge's x-range inside
    ``[x0, x1]``: linear on at most three pieces (below, across, above the
    rect), summed as trapezoids, signed against the edge's x-direction."""
    xa, ya = ring[:, :1], ring[:, 1:]
    nxt = np.concatenate([ring[1:], ring[:1]])
    xb, yb = nxt[:, :1], nxt[:, 1:]
    lo = np.maximum(np.minimum(xa, xb), x0)
    hi = np.minimum(np.maximum(xa, xb), x1)
    dx = xb - xa
    vertical = dx == 0
    with np.errstate(divide="ignore", invalid="ignore"):
        slope = np.where(vertical, 0.0, (yb - ya) / dx)
        # y at both ends of the clipped x-range; a vertical edge spans its own ys
        p = np.where(vertical, ya, ya + (lo - xa) * slope)
        q = np.where(vertical, yb, ya + (hi - xa) * slope)
        s, t = np.minimum(p, q), np.maximum(p, q)
        touched = ((lo <= hi) & (s <= y1) & (t >= y0)).any(axis=0)
        # shares of the clipped x-range below y0 and above y1
        span = t - s
        below = np.where(span > 0, np.clip((y0 - s) / span, 0.0, 1.0), s < y0)
        above = np.where(span > 0, np.clip((t - y1) / span, 0.0, 1.0), s > y1)
    across = np.maximum(1.0 - below - above, 0.0)
    mean = across * ((np.clip(s, y0, y1) + np.clip(t, y0, y1)) / 2 - y0) + above * (y1 - y0)
    width = np.maximum(hi - lo, 0.0) * -np.sign(dx)
    return (width * mean).sum(axis=0), touched


def multipolygon_rect_areas(mp: MultiPolygon, x0, y0, x1, y1) -> np.ndarray:
    """``area(mp ∩ [x0, x1] x [y0, y1])`` for K rects given as arrays — the
    cell classifier's coverage kernel, one numpy evaluation per ring over
    all rects (chunked to ``RECT_AREA_BUDGET`` edge x rect elements).

    Matches :func:`multipolygon_clip_area` within rounding: each ring's
    covered area is the absolute value of its signed one (the shoelace of
    its S-H clip), a polygon is |outer| − Σ|holes| (floored at 0) and parts
    are summed. A rect that no edge of a ring meets (closed test) takes
    exactly 0.0 or its full area for that ring, from an even-odd test of
    its centre, so rects away from the boundary get exact zeros and exact
    full covers, never rounding residue. On a self-intersecting ring both
    lobes of a bowtie thus cover positive area where a rect holds one of
    them, whichever way it winds, as under the S-H clip."""
    x0, y0, x1, y1 = (np.asarray(v, dtype=np.float64).reshape(-1) for v in (x0, y0, x1, y1))
    full = (x1 - x0) * (y1 - y0)
    total = np.zeros(len(x0))
    for poly in mp:
        part = np.zeros(len(x0))
        for i, ring in enumerate(poly):
            pts = _ring_open(ring)
            if len(pts) < 3:
                continue
            area = np.empty(len(x0))
            step = max(1, RECT_AREA_BUDGET // len(pts))
            for k in range(0, len(x0), step):
                sl = slice(k, k + step)
                signed, touched = _ring_rect_integrals(pts, x0[sl], y0[sl], x1[sl], y1[sl])
                area[sl] = np.abs(signed)
                far = np.flatnonzero(~touched) + k
                if len(far):
                    cx, cy = (x0[far] + x1[far]) / 2, (y0[far] + y1[far]) / 2
                    area[far] = np.where(points_in_ring(cx, cy, pts), full[far], 0.0)
            part += area if i == 0 else -area
        total += np.maximum(part, 0.0)
    return total


def rect_intersection_area(
    axmin: np.ndarray,
    aymin: np.ndarray,
    axmax: np.ndarray,
    aymax: np.ndarray,
    bxmin: np.ndarray,
    bymin: np.ndarray,
    bxmax: np.ndarray,
    bymax: np.ndarray,
) -> np.ndarray:
    """Closed-form rect x rect intersection area, fully vectorized —
    the fast path for grid x grid overlays (identity / mass-conservation
    invariants of tests/overlay.ipynb are pure rectangle math)."""
    w = np.minimum(axmax, bxmax) - np.maximum(axmin, bxmin)
    h = np.minimum(aymax, bymax) - np.maximum(aymin, bymin)
    return np.maximum(w, 0.0) * np.maximum(h, 0.0)


# ---------------------------------------------------------------------------
# invalid-geometry contract + detection
# ---------------------------------------------------------------------------
#
# The kernel assumes SIMPLE rings. For invalid input the behavior is
# deterministic and documented (never an exception, never a crash), but the
# two primitives disagree on purpose — callers who may receive real-world
# invalid polygons should run `validate_polygon` first:
#
# - membership (`points_in_*`) is EVEN-ODD: a point inside one lobe of a
#   self-intersecting "bowtie" ring IS inside (ray-cast parity — the same
#   answer GEOS gives for the even-odd fill rule);
# - areas (`ring_signed_area` / clip areas) are NET/ALGEBRAIC (shoelace):
#   opposite-winding lobes CANCEL, so a symmetric bowtie has area 0, not
#   the even-odd filled area. This is where a silently-wrong overlay would
#   come from — hence the validator below (the reference leans on GEOS and
#   retries overlays with buffer(eps) on TopologyException,
#   /root/reference/pygridmap/overlay.py:299-309; we detect-and-report
#   instead of repair).
#
# Duplicate consecutive vertices are harmless in every primitive (zero-
# length edges contribute nothing to parity or shoelace sums).


def _on_segment(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Given p collinear with segment ab: is p within ab's bounding box?
    p may be (m, 2); a, b are 2-vectors."""
    lo = np.minimum(a, b)
    hi = np.maximum(a, b)
    return ((p >= lo) & (p <= hi)).all(axis=-1)


def ring_self_intersects(ring: Ring) -> bool:
    """True if any two non-adjacent edges intersect — proper crossings AND
    vertex touches / collinear overlaps (a figure-eight touching at one
    repeated vertex has NET area diverging from even-odd just like a
    bowtie, so the validator must flag it too). Consecutive duplicate
    vertices are dropped first (zero-length edges are harmless, not
    self-intersections). O(n^2) segment test, vectorized over the inner
    loop. A validation utility — not for hot paths."""
    pts = np.asarray(ring, dtype=np.float64)[:-1]  # open form
    if len(pts) > 1:
        keep = np.ones(len(pts), dtype=bool)
        keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
        pts = pts[keep]
    if len(pts) > 1 and (pts[-1] == pts[0]).all():
        pts = pts[:-1]
    n = len(pts)
    if n < 4:
        return False
    p = pts
    q = np.roll(pts, -1, axis=0)
    for i in range(n - 2):
        # candidate edges j > i+1 (skip shared-endpoint neighbors; edge 0
        # is adjacent to edge n-1 through the closure)
        j0 = i + 2
        j1 = n if i > 0 else n - 1
        if j0 >= j1:
            continue
        a, b = p[i], q[i]
        c, d = p[j0:j1], q[j0:j1]
        d1 = np.cross(b - a, c - a)
        d2 = np.cross(b - a, d - a)
        d3 = np.cross(d - c, a - c)
        d4 = np.cross(d - c, b - c)
        proper = (d1 * d2 < 0) & (d3 * d4 < 0)
        touch = (
            ((d1 == 0) & _on_segment(c, a, b))
            | ((d2 == 0) & _on_segment(d, a, b))
            | ((d3 == 0) & _seg_contains(a, c, d))
            | ((d4 == 0) & _seg_contains(b, c, d))
        )
        if np.any(proper | touch):
            return True
    return False


def _seg_contains(p: np.ndarray, c: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Given scalar point p collinear with segments (c[i], d[i]): is p
    within each segment's bounding box? c, d are (m, 2)."""
    lo = np.minimum(c, d)
    hi = np.maximum(c, d)
    return ((p >= lo) & (p <= hi)).all(axis=1)


def validate_polygon(polygon: Polygon) -> list[str]:
    """Structural issues of one polygon (list of rings): unclosed rings,
    degenerate (<3 distinct points) rings, self-intersections. Empty list
    == clean. Mirrors the failure modes the reference repairs with
    unary_union/buffer(eps)."""
    issues = []
    for k, ring in enumerate(polygon):
        ring = np.asarray(ring, dtype=np.float64)
        label = "shell" if k == 0 else f"hole {k}"
        if len(ring) < 4:
            issues.append(f"{label}: fewer than 3 distinct vertices")
            continue
        if not np.allclose(ring[0], ring[-1]):
            issues.append(f"{label}: ring not closed")
        if ring_self_intersects(ring):
            issues.append(f"{label}: self-intersecting ring (areas are NET, not even-odd)")
    return issues


# ---------------------------------------------------------------------------
# geometry-form unary union / intersection reduce (A12/A13)
# ---------------------------------------------------------------------------
#
# Parity targets: reference base.py:432-527 (unary_union / intersection
# over arbitrary geometries via GEOS). Without a boolean-ops engine the
# useful contracts are provided directly:
# - MEMBERSHIP against the union (OR) / intersection (AND) is EXACT —
#   ray-cast parity per geometry composes;
# - AREA is computed by adaptive quadtree refinement over the exact
#   clip-to-rect kernel: decided blocks (fully inside / fully outside) are
#   exact; undecided leaf blocks are bounded above and below, and the
#   refinement runs until the bound gap is within `tol` of the bbox area.
#   Returned value is the bound midpoint; the guarantee is
#   |result - true| <= tol * bbox_area / 2.


def points_in_union(px: np.ndarray, py: np.ndarray, geoms: list) -> np.ndarray:
    """Exact membership in the unary union of multipolygons (OR)."""
    inside = np.zeros(len(px), dtype=bool)
    for mp in geoms:
        pend = ~inside
        if pend.any():
            idx = np.nonzero(pend)[0]
            inside[idx] |= points_in_multipolygon(px[idx], py[idx], mp)
    return inside


def points_in_intersection(px: np.ndarray, py: np.ndarray, geoms: list) -> np.ndarray:
    """Exact membership in the intersection of multipolygons (AND)."""
    inside = np.ones(len(px), dtype=bool)
    for mp in geoms:
        pend = inside
        if not pend.any():
            break
        idx = np.nonzero(pend)[0]
        inside[idx] &= points_in_multipolygon(px[idx], py[idx], mp)
    return inside


def _reduce_area(geoms: list, mode: str, tol: float, max_blocks: int) -> float:
    if not geoms:
        return 0.0
    if len(geoms) == 1:
        return multipolygon_area(geoms[0])  # exact shoelace
    boxes = [multipolygon_bbox(mp) for mp in geoms]
    if mode == "union":
        xmin = min(b[0] for b in boxes); ymin = min(b[1] for b in boxes)
        xmax = max(b[2] for b in boxes); ymax = max(b[3] for b in boxes)
    else:
        xmin = max(b[0] for b in boxes); ymin = max(b[1] for b in boxes)
        xmax = min(b[2] for b in boxes); ymax = min(b[3] for b in boxes)
        if xmin >= xmax or ymin >= ymax:
            return 0.0
    bbox_area = (xmax - xmin) * (ymax - ymin)
    decided = 0.0
    blocks = 0

    def classify(bx0, by0, bx1, by1):
        """-> (state, rect, clips): 'in' (counts fully), 'out', or 'split'
        (undecided — carries the per-geometry clip areas for bounding)."""
        nonlocal blocks
        blocks += 1
        if blocks > max_blocks:
            raise RuntimeError(
                f"{mode}_area: exceeded {max_blocks} refinement blocks at tol={tol}; "
                "raise tol or max_blocks"
            )
        rect = (bx1 - bx0) * (by1 - by0)
        clips = []
        for mp, bb in zip(geoms, boxes):
            if bb[2] <= bx0 or bb[0] >= bx1 or bb[3] <= by0 or bb[1] >= by1:
                a = 0.0
            else:
                a = multipolygon_clip_area(mp, bx0, by0, bx1, by1)
            clips.append(a)
            # short-circuit: one full geometry decides a union block; one
            # empty geometry decides an intersection block
            if mode == "union" and a >= rect * (1.0 - 1e-9):
                return "in", rect, clips
            if mode == "intersection" and a <= rect * 1e-12:
                return "out", rect, clips
        if mode == "union":
            state = "out" if all(c <= rect * 1e-12 for c in clips) else "split"
        else:
            state = "in" if all(c >= rect * (1.0 - 1e-9) for c in clips) else "split"
        return state, rect, clips

    leaves: list[tuple] = []

    def consume(rects):
        nonlocal decided
        for bx0, by0, bx1, by1 in rects:
            state, rect, clips = classify(bx0, by0, bx1, by1)
            if state == "in":
                decided += rect
            elif state == "split":
                leaves.append((bx0, by0, bx1, by1, rect, clips))

    consume([(xmin, ymin, xmax, ymax)])
    # refine undecided leaves breadth-first until the bound gap closes
    while True:
        lower = upper = 0.0
        next_rects = []
        for bx0, by0, bx1, by1, rect, clips in leaves:
            if mode == "union":
                lo, hi = max(clips), min(rect, sum(clips))
            else:
                lo, hi = max(0.0, sum(clips) - (len(geoms) - 1) * rect), min(clips)
            lower += lo
            upper += hi
            mx, my = (bx0 + bx1) / 2.0, (by0 + by1) / 2.0
            next_rects.extend(
                [(bx0, by0, mx, my), (mx, by0, bx1, my), (bx0, my, mx, by1), (mx, my, bx1, by1)]
            )
        if upper - lower <= tol * max(bbox_area, 1e-300) or not leaves:
            return decided + (lower + upper) / 2.0
        leaves = []
        consume(next_rects)


def union_area(geoms: list, tol: float = 1e-4, max_blocks: int = 2_000_000) -> float:
    """Area of the unary union of multipolygons (A12 geometry form).

    Cost model: undecided leaves hug the boundary, so the bound gap after
    L refinement levels is ~perimeter x leaf_width — it HALVES per level
    and the leaf count ~doubles. Total blocks ~ c * P^2 / (tol * bbox_area):
    tol=1e-4 is thousands of clip calls for realistic shapes; tol=1e-6 can
    be millions when edges don't align with the binary splits (axis-aligned
    power-of-two inputs decide exactly and stay cheap at any tol)."""
    return _reduce_area(geoms, "union", tol, max_blocks)


def intersection_area(geoms: list, tol: float = 1e-4, max_blocks: int = 2_000_000) -> float:
    """Area of the intersection of multipolygons (A13 geometry form);
    same tol cost model as :func:`union_area`."""
    return _reduce_area(geoms, "intersection", tol, max_blocks)


# ---------------------------------------------------------------------------
# general polygon x polygon boolean kernel (round 3)
#
# The reference's overlay_polygon accepts two arbitrary polygon layers
# (/root/reference/pygridmap/overlay.py:287-309, via GEOS). Re-derived here
# without GEOS as Sutherland-Hodgman against CONVEX clip windows: a convex
# clip polygon is clipped in one S-H pass (exact, dissolved output); a
# non-convex simple clip ring is ear-clipped into triangles (a partition of
# its interior), the subject is clipped against each triangle, and the
# fragment set is the intersection region — disjoint interiors, so the
# summed shoelace area is the exact intersection area and the multipolygon
# covers exactly subject ∩ clip (fragment seams along triangulation edges,
# documented). Subject holes ride through S-H like the rect path; clip-side
# holes are rejected with a clear error (see intersect_polygons).
# ---------------------------------------------------------------------------


def _ring_open(ring: Ring) -> np.ndarray:
    pts = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(pts) > 1 and pts[0, 0] == pts[-1, 0] and pts[0, 1] == pts[-1, 1]:
        pts = pts[:-1]
    return pts


def _ring_ccw(ring: np.ndarray) -> np.ndarray:
    x, y = ring[:, 0], ring[:, 1]
    area2 = float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))
    return ring[::-1] if area2 < 0 else ring


def ring_is_convex(ring: Ring) -> bool:
    """True when every turn of the (open or closed) ring has the same sign
    (collinear vertices allowed)."""
    pts = _ring_open(ring)
    if len(pts) < 3:
        return False
    e = np.roll(pts, -1, axis=0) - pts
    cr = e[:, 0] * np.roll(e[:, 1], -1) - e[:, 1] * np.roll(e[:, 0], -1)
    scale = float(np.abs(e).max()) or 1.0
    nz = cr[np.abs(cr) > (scale * scale) * 1e-15]
    return len(nz) == 0 or (nz > 0).all() or (nz < 0).all()


def clip_ring_to_convex(ring: Ring, clip_ring: Ring) -> Ring:
    """Sutherland-Hodgman clip of one (simple) ring against a CONVEX clip
    ring — the general-window form of :func:`clip_ring_to_rect` (exact for
    any simple subject because every clip edge is a half-plane)."""
    pts = _ring_open(ring)
    cp = _ring_ccw(_ring_open(clip_ring))
    for i in range(len(cp)):
        if len(pts) == 0:
            return pts.reshape(0, 2)
        a = cp[i]
        d = cp[(i + 1) % len(cp)] - a
        if d[0] == 0.0 and d[1] == 0.0:
            continue  # duplicate clip vertex: degenerate edge is a no-op
        s = d[0] * (pts[:, 1] - a[1]) - d[1] * (pts[:, 0] - a[0])
        inside = s >= 0
        out = []
        n = len(pts)
        for j in range(n):
            k = (j + 1) % n
            if inside[j]:
                out.append(pts[j])
                if not inside[k]:
                    t = s[j] / (s[j] - s[k])
                    out.append(pts[j] + t * (pts[k] - pts[j]))
            elif inside[k]:
                t = s[j] / (s[j] - s[k])
                out.append(pts[j] + t * (pts[k] - pts[j]))
        pts = np.asarray(out, dtype=np.float64).reshape(-1, 2)
    return pts


def triangulate_ring(ring: Ring) -> list:
    """Ear-clipping triangulation of a simple ring -> list of (3, 2)
    arrays partitioning its interior. O(n^2); raises ValueError when no
    ear exists (self-intersecting input)."""
    pts = _ring_ccw(_ring_open(ring))
    n = len(pts)
    if n < 3:
        return []
    scale = float(np.abs(pts).max()) or 1.0
    eps = (scale * scale) * 1e-15
    idx = list(range(n))
    tris = []
    while len(idx) > 3:
        found = False
        for pos in range(len(idx)):
            ip, ic, inx = idx[pos - 1], idx[pos], idx[(pos + 1) % len(idx)]
            a, b, c = pts[ip], pts[ic], pts[inx]
            cross = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
            if cross <= eps:
                if abs(cross) <= eps:
                    # collinear ear: zero area, safe to drop the vertex
                    idx.pop(pos)
                    found = True
                    break
                continue  # reflex
            # ear is valid when no OTHER remaining vertex lies in the
            # closed triangle (on-boundary blocks too: stay conservative)
            ok = True
            for other in idx:
                if other in (ip, ic, inx):
                    continue
                p = pts[other]
                d1 = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
                d2 = (c[0] - b[0]) * (p[1] - b[1]) - (c[1] - b[1]) * (p[0] - b[0])
                d3 = (a[0] - c[0]) * (p[1] - c[1]) - (a[1] - c[1]) * (p[0] - c[0])
                if d1 >= -eps and d2 >= -eps and d3 >= -eps:
                    ok = False
                    break
            if ok:
                tris.append(np.array([a, b, c]))
                idx.pop(pos)
                found = True
                break
        if not found:
            raise ValueError(
                "triangulate_ring: no ear found — ring is not simple "
                "(self-intersecting); the boolean kernel requires simple rings"
            )
    a, b, c = pts[idx[0]], pts[idx[1]], pts[idx[2]]
    if abs((b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])) > eps:
        tris.append(np.array([a, b, c]))
    # self-check: ear triangles must partition the ring's interior, so
    # their areas sum to the shoelace area. A non-simple (bowtie) ring can
    # slip past the per-ear tests but not past this — fail loudly instead
    # of returning a triangulation of some OTHER region (hypothesis found
    # the silent variant).
    ring_area = abs(ring_signed_area(np.vstack([pts, pts[:1]])))
    tri_area = sum(abs(ring_signed_area(np.vstack([t, t[:1]]))) for t in tris)
    if abs(tri_area - ring_area) > 1e-9 * max(ring_area, eps, 1e-300) + eps * len(pts):
        raise ValueError(
            "triangulate_ring: triangle areas disagree with the shoelace "
            f"area ({tri_area} vs {ring_area}) — ring is not simple"
        )
    return tris


def clip_windows(clip: Polygon) -> list:
    """Convex clip windows of a hole-free polygon: the (open) outer ring
    itself when convex, else its ear-clipping triangles. Precompute and
    cache this per polygon when the same clip participates in many pairs —
    ear clipping is O(n^2) and must not be re-paid per pair."""
    if len(clip) > 1:
        raise ValueError(
            "clip polygon has holes: general x general with holes on BOTH "
            "sides is unsupported (put the hole-free layer on the clip side)"
        )
    couter = _ring_open(np.asarray(clip[0], dtype=np.float64))
    if len(couter) < 3:
        return []
    return [couter] if ring_is_convex(couter) else triangulate_ring(couter)


def intersect_polygons(subject: Polygon, clip: Polygon, windows: list | None = None) -> MultiPolygon:
    """subject ∩ clip as geometry (list of polygons, subject holes
    preserved). ``clip`` must be hole-free (outer ring only) — pass the
    hole-free side as the clip; :func:`intersect_multipolygons` does that
    swap automatically. Convex clip -> one dissolved piece; non-convex ->
    triangle fragments with exact summed area. ``windows`` short-circuits
    the convexity test / triangulation with a precomputed
    :func:`clip_windows` result."""
    if windows is None:
        windows = clip_windows(clip)
    if not windows or not subject or not len(subject[0]):
        return []
    couter = _ring_open(np.asarray(clip[0], dtype=np.float64))
    scale = max(float(np.abs(couter).max()), 1.0)
    area_eps = (scale * scale) * 1e-18
    out: MultiPolygon = []
    for w in windows:
        outer = clip_ring_to_convex(subject[0], w)
        if len(outer) < 3:
            continue
        rings = [outer]
        for hole in subject[1:]:
            h = clip_ring_to_convex(hole, w)
            if len(h) >= 3:
                rings.append(h)
        if abs(polygon_area(rings)) > area_eps:
            out.append(rings)
    return out


def intersect_multipolygons(
    a: MultiPolygon,
    b: MultiPolygon,
    windows_cache: dict | None = None,
    a_key=None,
    b_key=None,
) -> MultiPolygon:
    """a ∩ b as geometry: pairwise polygon intersections concatenated
    (valid because each side's polygons have disjoint interiors). The
    hole-free side of each pair is used as the clip window; two holey
    polygons raise (documented kernel limit).

    ``windows_cache`` (any dict) with ``a_key``/``b_key`` memoizes
    :func:`clip_windows` per (side, key, polygon-index) — essential when
    the same concave polygon participates in many candidate pairs (the
    overlay operator's situation): triangulation runs once per polygon,
    not once per pair."""

    def windows(poly, side, key, idx):
        if windows_cache is None or key is None:
            return clip_windows(poly)
        ck = (side, key, idx)
        w = windows_cache.get(ck)
        if w is None:
            w = clip_windows(poly)
            if len(windows_cache) < 65536:
                windows_cache[ck] = w
        return w

    out: MultiPolygon = []
    for ia, pa in enumerate(a):
        if not len(pa):
            continue
        for ib, pb in enumerate(b):
            if not len(pb):
                continue
            if len(pb) == 1:
                out.extend(intersect_polygons(pa, pb, windows(pb, "b", b_key, ib)))
            elif len(pa) == 1:
                out.extend(intersect_polygons(pb, pa, windows(pa, "a", a_key, ia)))
            else:
                raise ValueError(
                    "intersect_multipolygons: both polygons carry holes — "
                    "unsupported (dissolve one side's holes first)"
                )
    return out


def union_blocks(
    geoms: list, tol: float = 1e-4, max_blocks: int = 2_000_000
) -> tuple[list, list]:
    """Quadtree block decomposition of the unary union (the GEOMETRY form
    of :func:`union_area`, reference base.py:486-527 which returns the
    union polygon via GEOS): ``(inside, boundary)`` rect lists where every
    ``inside`` block lies fully in the union, ``inside + boundary`` covers
    it, and the boundary blocks' total area <= tol x bbox_area — so
    area(inside) and area(inside)+area(boundary) are exact lower/upper
    geometric envelopes. Axis-aligned inputs on dyadic coordinates decide
    exactly (boundary empties out)."""
    if not geoms:
        return [], []
    boxes = [multipolygon_bbox(mp) for mp in geoms]
    xmin = min(b[0] for b in boxes); ymin = min(b[1] for b in boxes)
    xmax = max(b[2] for b in boxes); ymax = max(b[3] for b in boxes)
    bbox_area = (xmax - xmin) * (ymax - ymin)
    if bbox_area <= 0:
        return [], []
    inside: list = []
    blocks = 0

    def classify(bx0, by0, bx1, by1):
        nonlocal blocks
        blocks += 1
        if blocks > max_blocks:
            raise RuntimeError(
                f"union_blocks: exceeded {max_blocks} blocks at tol={tol}; "
                "raise tol or max_blocks"
            )
        rect = (bx1 - bx0) * (by1 - by0)
        any_part = False
        for mp, bb in zip(geoms, boxes):
            if bb[2] <= bx0 or bb[0] >= bx1 or bb[3] <= by0 or bb[1] >= by1:
                continue
            a = multipolygon_clip_area(mp, bx0, by0, bx1, by1)
            if a >= rect * (1.0 - 1e-9):
                return "in"
            if a > rect * 1e-12:
                any_part = True
        return "split" if any_part else "out"

    leaves = [(xmin, ymin, xmax, ymax)]
    while True:
        nxt = []
        for bx0, by0, bx1, by1 in leaves:
            state = classify(bx0, by0, bx1, by1)
            if state == "in":
                inside.append((bx0, by0, bx1, by1))
            elif state == "split":
                nxt.append((bx0, by0, bx1, by1))
        leaves = nxt
        pending = sum((b[2] - b[0]) * (b[3] - b[1]) for b in leaves)
        if not leaves or pending <= tol * bbox_area:
            return inside, leaves
        leaves = [
            q
            for bx0, by0, bx1, by1 in leaves
            for mx, my in [((bx0 + bx1) / 2.0, (by0 + by1) / 2.0)]
            for q in (
                (bx0, by0, mx, my), (mx, by0, bx1, my),
                (bx0, my, mx, by1), (mx, my, bx1, by1),
            )
        ]


def rect_of_polygon(poly) -> tuple | None:
    """``(xmin, ymin, xmax, ymax)`` when ``poly`` is a single axis-aligned
    rectangle ring (4 distinct corners, no holes), else None."""
    if len(poly) != 1:
        return None
    pts = _ring_open(np.asarray(poly[0], dtype=np.float64).reshape(-1, 2))
    if len(pts) != 4:
        return None
    xs, ys = np.unique(pts[:, 0]), np.unique(pts[:, 1])
    if len(xs) != 2 or len(ys) != 2:
        return None
    want = {(xs[0], ys[0]), (xs[1], ys[0]), (xs[1], ys[1]), (xs[0], ys[1])}
    if {(p[0], p[1]) for p in pts} != want:
        return None
    return float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1])


def union_rects_exact(rects: list) -> MultiPolygon:
    """EXACT unary union of axis-aligned rectangles as a dissolved outline
    multipolygon (CCW outers + CW holes). Grid decomposition: the rects'
    distinct x/y edges slice the plane into cells, covered cells share
    full bit-identical edges by construction, so the shared-edge dissolve
    cancels every interior seam — no tolerance anywhere."""
    if not rects:
        return []
    rr = [r for r in rects if r[2] > r[0] and r[3] > r[1]]
    if not rr:
        return []
    xs = np.unique(np.array([v for r in rr for v in (r[0], r[2])], dtype=np.float64))
    ys = np.unique(np.array([v for r in rr for v in (r[1], r[3])], dtype=np.float64))
    covered = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    for x0, y0, x1, y1 in rr:
        i0, i1 = np.searchsorted(xs, x0), np.searchsorted(xs, x1)
        j0, j1 = np.searchsorted(ys, y0), np.searchsorted(ys, y1)
        covered[i0:i1, j0:j1] = True
    cells = [
        [
            np.array(
                [[xs[i], ys[j]], [xs[i + 1], ys[j]], [xs[i + 1], ys[j + 1]], [xs[i], ys[j + 1]]],
                dtype=np.float64,
            )
        ]
        for i, j in zip(*np.nonzero(covered))
    ]
    if not cells:
        return []
    out = dissolve_multipolygon(cells, strict=True)
    # exactness invariant: dissolved area == covered-cell area, exactly the
    # union area because the cells partition the union
    return out


def _collect_edges(geoms: list) -> list:
    """Every ring edge of every polygon of every multipolygon, as
    (x0, y0, x1, y1) tuples (zero-length dropped; holes included — the
    coverage sampling is what distinguishes them)."""
    edges = []
    for mp in geoms:
        for poly in mp:
            for ring in poly:
                pts = _ring_open(np.asarray(ring, dtype=np.float64))
                n = len(pts)
                for i in range(n):
                    x0, y0 = float(pts[i, 0]), float(pts[i, 1])
                    j = (i + 1) % n
                    x1, y1 = float(pts[j, 0]), float(pts[j, 1])
                    if x0 == x1 and y0 == y1:
                        continue
                    edges.append((x0, y0, x1, y1))
    return edges


def _split_edges_at_intersections(edges: list) -> list:
    """Split every edge at (a) proper crossings with other edges — both
    edges split at the SAME computed point, so the crossing abscissa is a
    shared slab boundary — and (b) other edges' endpoints lying exactly on
    its line within its span (T-junctions and collinear overlaps, split at
    the neighbour's exact endpoint coordinates). O(E^2) pair scan with a
    vectorized bbox prefilter — sized for the per-group kernel (overlay
    pieces, polygon families of hundreds of edges), not a global pass."""
    n = len(edges)
    if n <= 1:
        return list(edges)
    E = np.asarray(edges, dtype=np.float64)
    X0, Y0, X1, Y1 = E[:, 0], E[:, 1], E[:, 2], E[:, 3]
    bx0, bx1 = np.minimum(X0, X1), np.maximum(X0, X1)
    by0, by1 = np.minimum(Y0, Y1), np.maximum(Y0, Y1)
    DX, DY = X1 - X0, Y1 - Y0
    splits: list = [set() for _ in range(n)]

    def on_span(i: int, qx: float, qy: float) -> bool:
        # q known on edge i's line; strictly interior along the dominant axis
        if abs(DX[i]) >= abs(DY[i]):
            lo, hi = (X0[i], X1[i]) if X0[i] < X1[i] else (X1[i], X0[i])
            return lo < qx < hi
        lo, hi = (Y0[i], Y1[i]) if Y0[i] < Y1[i] else (Y1[i], Y0[i])
        return lo < qy < hi

    for i in range(n - 1):
        js = np.arange(i + 1, n)
        cand = js[
            (bx1[js] >= bx0[i]) & (bx0[js] <= bx1[i])
            & (by1[js] >= by0[i]) & (by0[js] <= by1[i])
        ]
        if not len(cand):
            continue
        # cross(d_i, q - p_i) for the candidates' endpoints
        s1 = DX[i] * (Y0[cand] - Y0[i]) - DY[i] * (X0[cand] - X0[i])
        s2 = DX[i] * (Y1[cand] - Y0[i]) - DY[i] * (X1[cand] - X0[i])
        s3 = DX[cand] * (Y0[i] - Y0[cand]) - DY[cand] * (X0[i] - X0[cand])
        s4 = DX[cand] * (Y1[i] - Y0[cand]) - DY[cand] * (X1[i] - X0[cand])
        proper = (s1 * s2 < 0.0) & (s3 * s4 < 0.0)
        for k in np.nonzero(proper)[0]:
            j = int(cand[k])
            denom = DX[i] * DY[j] - DY[i] * DX[j]
            t = ((X0[j] - X0[i]) * DY[j] - (Y0[j] - Y0[i]) * DX[j]) / denom
            p = (float(X0[i] + t * DX[i]), float(Y0[i] + t * DY[i]))
            splits[i].add(p)
            splits[j].add(p)
        for k in np.nonzero(s1 == 0.0)[0]:
            j = int(cand[k])
            if on_span(i, X0[j], Y0[j]):
                splits[i].add((float(X0[j]), float(Y0[j])))
        for k in np.nonzero(s2 == 0.0)[0]:
            j = int(cand[k])
            if on_span(i, X1[j], Y1[j]):
                splits[i].add((float(X1[j]), float(Y1[j])))
        for k in np.nonzero(s3 == 0.0)[0]:
            j = int(cand[k])
            if on_span(j, X0[i], Y0[i]):
                splits[j].add((float(X0[i]), float(Y0[i])))
        for k in np.nonzero(s4 == 0.0)[0]:
            j = int(cand[k])
            if on_span(j, X1[i], Y1[i]):
                splits[j].add((float(X1[i]), float(Y1[i])))
    out = []
    for i, (x0, y0, x1, y1) in enumerate(edges):
        if not splits[i]:
            out.append((x0, y0, x1, y1))
            continue
        horiz = abs(DX[i]) >= abs(DY[i])
        key = (lambda p: p[0]) if horiz else (lambda p: p[1])
        pts = [(x0, y0)] + sorted(splits[i], key=key, reverse=key((x0, y0)) > key((x1, y1))) + [(x1, y1)]
        for a, b in zip(pts, pts[1:]):
            if a != b:
                out.append((a[0], a[1], b[0], b[1]))
    return out


def union_trapezoids(geoms: list) -> MultiPolygon:
    """EXACT partition of the unary union of arbitrary (possibly
    overlapping, concave, holed) multipolygons into vertical-slab
    trapezoids. Classic arrangement decomposition: split every edge at
    every crossing/T-junction, slice the plane into slabs at every
    resulting x, stack each slab's segments by height, and keep the
    inter-segment bands whose midpoint lies in the union
    (:func:`points_in_union` — one batched even-odd test, holes handled).

    Trapezoid corners at a slab boundary are bit-identical from both
    sides (every slab evaluates every edge through ONE canonical
    vectorized expression), and each trapezoid's vertical sides are
    subdivided at EVERY corner height recorded at that abscissa, so
    shared edges cancel exactly under :func:`dissolve_multipolygon`
    strict mode — no tolerance anywhere. Fully vectorized: event-based
    slab assignment (no O(E x S) scan), one global (slab, height)
    lexsort, numpy ring assembly."""
    return _union_trapezoids_impl(geoms)[0]


def _union_trapezoids_impl(geoms: list) -> tuple[MultiPolygon, float]:
    """(trapezoids, closed-form total area) — the area is the exact
    trapezoid formula summed vectorized (subdivision points are
    area-neutral), which :func:`union_exact` feeds to the dissolve
    contract instead of an O(traps) shoelace recompute."""
    edges = _split_edges_at_intersections(_collect_edges(geoms))
    nonvert = [e for e in edges if e[0] != e[2]]
    if not nonvert:
        return [], 0.0
    xs = np.unique(
        np.array([v for e in edges for v in (e[0], e[2])], dtype=np.float64)
    )
    # left-to-right orientation for slab processing
    E = np.asarray(nonvert, dtype=np.float64)
    flip = E[:, 0] > E[:, 2]
    X0 = np.where(flip, E[:, 2], E[:, 0])
    Y0 = np.where(flip, E[:, 3], E[:, 1])
    X1 = np.where(flip, E[:, 0], E[:, 2])
    Y1 = np.where(flip, E[:, 1], E[:, 3])
    # event-based (edge, slab) pair generation: endpoints are members of
    # xs, so each edge spans slabs [i0, i1) exactly
    i0 = np.searchsorted(xs, X0)
    i1 = np.searchsorted(xs, X1)
    counts = i1 - i0
    P = int(counts.sum())
    if P == 0:
        return [], 0.0
    eids = np.repeat(np.arange(len(X0)), counts)
    offs = np.concatenate([[0], np.cumsum(counts)[:-1]])
    sids = np.arange(P) - np.repeat(offs, counts) + np.repeat(i0, counts)
    xa_arr = xs[sids]
    xb_arr = xs[sids + 1]
    x0v, y0v, x1v, y1v = X0[eids], Y0[eids], X1[eids], Y1[eids]
    # THE canonical per-(edge, x) evaluation — exact at endpoints, ONE
    # interpolation form everywhere. Any recomputation of a corner for the
    # same (edge, x) must use exactly this expression: the strict
    # dissolve's shared-edge cancellation has no tolerance to absorb a
    # bit-level drift between two evaluations of the same corner.
    with np.errstate(divide="ignore", invalid="ignore"):
        ta = (xa_arr - x0v) / (x1v - x0v)
        tb = (xb_arr - x0v) / (x1v - x0v)
    ya = np.where(xa_arr == x0v, y0v, np.where(xa_arr == x1v, y1v, y0v + (y1v - y0v) * ta))
    yb = np.where(xb_arr == x0v, y0v, np.where(xb_arr == x1v, y1v, y0v + (y1v - y0v) * tb))
    # stack each slab by height: one global stable sort on
    # (slab, ya+yb, ya) — the scalar path's rows.sort key, slab-major
    order = np.lexsort((ya, ya + yb, sids))
    sya, syb, ssid = ya[order], yb[order], sids[order]
    # candidate bands = adjacent pairs within a slab, degenerate dropped
    nbr = ssid[:-1] == ssid[1:]
    la, ua = sya[:-1][nbr], sya[1:][nbr]
    lb_, ub = syb[:-1][nbr], syb[1:][nbr]
    csid = ssid[:-1][nbr]
    live = ~((la == ua) & (lb_ == ub))
    la, ua, lb_, ub, csid = la[live], ua[live], lb_[live], ub[live], csid[live]
    if not len(la):
        return [], 0.0
    mx = (xs[csid] + xs[csid + 1]) / 2.0
    my = ((la + lb_) + (ua + ub)) / 4.0
    cov = points_in_union(mx, my, geoms)
    la, ua, lb_, ub, csid = la[cov], ua[cov], lb_[cov], ub[cov], csid[cov]
    K = len(la)
    if K == 0:
        return [], 0.0
    kxa, kxb = xs[csid], xs[csid + 1]
    area = float(np.sum((kxb - kxa) * ((ua - la) + (ub - lb_))) * 0.5)
    # vertical-boundary corner heights per abscissa, from BOTH sides:
    # sort all (x, y) corners once, dedup per x group
    bx = np.concatenate([kxa, kxa, kxb, kxb])
    by = np.concatenate([la, ua, lb_, ub])
    o2 = np.lexsort((by, bx))
    bx, by = bx[o2], by[o2]
    ux, starts = np.unique(bx, return_index=True)
    stops = np.append(starts[1:], len(bx))
    sbreaks = {}
    for j in range(len(ux)):
        ys_g = by[starts[j]:stops[j]]
        ys_g = ys_g[np.concatenate([[True], ys_g[1:] != ys_g[:-1]])]
        sbreaks[float(ux[j])] = ys_g
    out: MultiPolygon = []
    kxal, kxbl = kxa.tolist(), kxb.tolist()
    lal, ual, lbl, ubl = la.tolist(), ua.tolist(), lb_.tolist(), ub.tolist()
    for i in range(K):
        xa, xb = kxal[i], kxbl[i]
        ya_l, ya_u, yb_l, yb_u = lal[i], ual[i], lbl[i], ubl[i]
        rb = sbreaks[xb]
        lb2 = sbreaks[xa]
        r0 = rb.searchsorted(yb_l, "right")
        r1 = rb.searchsorted(yb_u, "left")
        l0 = lb2.searchsorted(ya_l, "right")
        l1 = lb2.searchsorted(ya_u, "left")
        nr = max(int(r1 - r0), 0)
        nl = max(int(l1 - l0), 0)
        ring = np.empty((4 + nr + nl, 2), dtype=np.float64)
        ring[0, 0] = xa; ring[0, 1] = ya_l
        ring[1, 0] = xb; ring[1, 1] = yb_l
        if nr:
            ring[2:2 + nr, 0] = xb
            ring[2:2 + nr, 1] = rb[r0:r1]
        ring[2 + nr, 0] = xb; ring[2 + nr, 1] = yb_u
        ring[3 + nr, 0] = xa; ring[3 + nr, 1] = ya_u
        if nl:
            ring[4 + nr:, 0] = xa
            ring[4 + nr:, 1] = lb2[l0:l1][::-1]
        out.append([ring])
    return out, area


def union_exact(geoms: list) -> MultiPolygon:
    """EXACT unary union of arbitrary multipolygons as a dissolved outline
    (CCW outers + CW holes) — the reference-parity general form
    (/root/reference/pygridmap/base.py:504-516 returns the exact union
    polygon via GEOS unary_union; this is the from-scratch equivalent:
    :func:`union_trapezoids` arrangement partition + STRICT shared-edge
    dissolve, no tolerance, no fallback).

    Rect-decomposable inputs should prefer :func:`union_rects_exact`
    (grid decomposition — O(n log n)-ish and immune to slanted-edge float
    residue); this general path pays an O(E^2) crossing scan and is sized
    for per-group kernels (overlay piece families, dimension layers), not
    for millions of edges in one call."""
    if not geoms:
        return []
    traps, area = _union_trapezoids_impl(geoms)
    if not traps:
        return []
    return dissolve_multipolygon(
        traps, strict=True, assume_oriented=True, input_area=area
    )


def union_geometry(
    geoms: list,
    tol: float = 1e-4,
    cover: str = "inner",
    max_blocks: int = 2_000_000,
    exact: bool = False,
) -> MultiPolygon:
    """Unary-union GEOMETRY.

    Default (``exact=False``): a multipolygon of quadtree blocks.
    ``cover='inner'`` is contained in the exact union (area within
    tol x bbox_area below it); ``'outer'`` contains it (same bound above).
    Block decomposition, not a dissolved outline — the exact area /
    membership forms (:func:`union_area`, :func:`points_in_union`) remain
    the precision tools; this is the mappable/paintable form.

    ``exact=True``: EXACT dissolved outline, no tolerance, no blocks.
    Rect-decomposable inputs (grid cells, tiles, quadtree blocks, the
    rect-overlay piece family) take the grid-decomposition fast path
    (:func:`union_rects_exact`); anything else — overlapping concave
    polygons, holes, slanted edges — routes through the general
    arrangement partition (:func:`union_exact`)."""
    if exact:
        rects = []
        for mp in geoms:
            for poly in mp:
                if not poly or not len(poly[0]):
                    continue  # empty polygon: contributes nothing
                r = rect_of_polygon(poly)
                if r is None:
                    # a DEGENERATE axis-aligned ring (zero width or height:
                    # all xs or all ys equal) is an empty contribution —
                    # skip it, matching union_rects_exact's own filter of
                    # degenerate rect tuples.
                    pts = _ring_open(
                        np.asarray(poly[0], dtype=np.float64).reshape(-1, 2)
                    )
                    if len(np.unique(pts[:, 0])) == 1 or len(np.unique(pts[:, 1])) == 1:
                        continue
                    # not rect-decomposable: the general exact path
                    return union_exact(geoms)
                rects.append(r)
        return union_rects_exact(rects)
    if cover not in ("inner", "outer"):
        raise ValueError(f"cover must be 'inner' or 'outer', got {cover!r}")
    inside, boundary = union_blocks(geoms, tol, max_blocks)
    rects = inside if cover == "inner" else inside + boundary
    return [
        [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)]
        for x0, y0, x1, y1 in rects
    ]


def dissolve_multipolygon(
    mp: MultiPolygon,
    strict: bool = False,
    assume_oriented: bool = False,
    drop_collinear: bool = True,
    input_area: float | None = None,
) -> MultiPolygon:
    """Seam removal for a multipolygon whose polygons PARTITION a region
    (the triangle-fragment output of :func:`intersect_polygons` on concave
    clips, rect-overlay pieces, grid-cell covers): interior edges appear
    exactly twice with opposite directions — and with bit-identical
    coordinates, because the two triangles sharing a chord compute every
    subject-edge intersection from negated cross products
    (t' = (-s_p)/(-s_p + s_q) == s_p/(s_p - s_q) exactly in IEEE) — so they
    cancel; the surviving directed edges stitch back into boundary rings by
    leftmost-turn planar face traversal.

    Safety contract: the dissolved result must carry EXACTLY the input's
    signed area; on any mismatch (degenerate touching, repeated vertices
    the traversal mis-routes) the default returns the ORIGINAL fragments
    unchanged — cosmetic, never a correctness risk. ``strict=True`` raises
    instead of falling back: the pinned no-fallback guarantee for the
    boolean kernel's own piece outputs (S-H rect clips, triangle
    fragments, grid cells — where edge cancellation is exact by
    construction). The strict guarantee covers NON-DEGENERATE partitions:
    edges shorter than the angle computation's float resolution (denormal
    -width slivers, hypothesis-probed) can mis-order the leftmost-turn
    choice — such inputs raise in strict mode and fall back safely
    otherwise.

    ``assume_oriented=True`` skips the canonical re-orientation pass: for
    inputs whose rings are CONSTRUCTED in canonical order (shell CCW,
    holes CW — e.g. :func:`union_trapezoids` output) the shoelace SIGN of
    an ulp-wide sliver is rounding noise (true area ~1e-16, shoelace
    residue ~1e-15 at coordinate scale), and re-orienting off that noisy
    sign would flip a correctly-oriented ring and break edge
    cancellation.

    ``drop_collinear=False`` keeps collinear seam vertices in the output
    rings: the dissolved outline then carries its boundary edges at the
    ORIGINAL piece granularity, so a SECOND dissolve over outlines from
    adjacent partial groups still cancels shared edges bit-exactly — the
    contract behind the hierarchical (two-level) distributed dissolve.
    With the default True, boundary edges merge into long runs whose
    endpoints depend on the group's interior, and outlines from different
    groupings stop being edge-compatible."""
    if len(mp) <= 1:
        return mp
    out = _dissolve_or_none(
        mp,
        assume_oriented=assume_oriented,
        drop_collinear=drop_collinear,
        input_area=input_area,
    )
    if out is None:
        if strict:
            raise ValueError(
                "dissolve_multipolygon(strict=True): edge traversal failed "
                "or dissolved area diverged — input is not an exact "
                "partition with bit-identical shared edges"
            )
        return mp
    return out


def remove_collinear_vertices(mp: MultiPolygon) -> MultiPolygon:
    """Drop exactly-collinear (zero cross product) interior vertices from
    every ring — the same exact-only simplification the dissolve traversal
    applies to its output rings, exposed for outlines that skipped the
    traversal (e.g. a single-ring level-1 block outline from
    ``dissolve_multipolygon(drop_collinear=False)`` that the level-2
    dissolve early-returned unchanged). Never moves the boundary."""
    out: MultiPolygon = []
    for poly in mp:
        rings = []
        for ring in poly:
            pts = np.asarray(ring, dtype=np.float64)
            if len(pts) > 1 and pts[0, 0] == pts[-1, 0] and pts[0, 1] == pts[-1, 1]:
                pts = pts[:-1]
            n = len(pts)
            if n >= 3:
                prev_i = np.roll(np.arange(n), 1)
                next_i = np.roll(np.arange(n), -1)
                cr = (pts[:, 0] - pts[prev_i, 0]) * (pts[next_i, 1] - pts[:, 1]) - (
                    pts[:, 1] - pts[prev_i, 1]
                ) * (pts[next_i, 0] - pts[:, 0])
                keep = cr != 0.0
                if keep.sum() >= 3:
                    pts = pts[keep]
            rings.append(pts)
        out.append(rings)
    return out


def _dissolve_or_none(
    mp: MultiPolygon,
    assume_oriented: bool = False,
    drop_collinear: bool = True,
    input_area: float | None = None,
):
    """Dissolve body; None on any path the public wrapper treats as
    fallback."""
    import math as _math

    # 1. collect directed edges; cancel exact-opposite pairs. Rings are
    # first oriented canonically (shell CCW, holes CW — interior always on
    # the LEFT of every directed edge): the kernel's fragments carry holes
    # in whatever orientation the subject had (even-odd is orientation-
    # agnostic), and a CCW hole boundary would survive the cancellation as
    # a spurious "outer" ring and fail the area contract.
    edges: dict = {}
    for poly in mp:
        for ri, ring in enumerate(poly):
            pts = np.asarray(ring, dtype=np.float64)
            if len(pts) > 1 and pts[0, 0] == pts[-1, 0] and pts[0, 1] == pts[-1, 1]:
                pts = pts[:-1]
            if len(pts) >= 3 and not assume_oriented:
                sa = ring_signed_area(np.vstack([pts, pts[:1]]))
                if (ri == 0) != (sa > 0) and sa != 0.0:
                    pts = pts[::-1]
            n = len(pts)
            for i in range(n):
                a = (float(pts[i, 0]), float(pts[i, 1]))
                b = (float(pts[(i + 1) % n, 0]), float(pts[(i + 1) % n, 1]))
                if a == b:
                    continue
                if edges.pop((b, a), None) is not None:
                    continue  # cancels an opposite interior edge
                edges[(a, b)] = True
    if not edges:
        return None
    # 2. stitch cycles: at each vertex choose the leftmost-turn outgoing
    # edge relative to the arrival direction (planar face traversal)
    out_by_start: dict = {}
    for (a, b) in edges:
        out_by_start.setdefault(a, []).append(b)

    def take_next(prev, cur):
        outs = out_by_start.get(cur)
        if not outs:
            return None
        if len(outs) == 1:
            nxt = outs[0]
        else:
            base = _math.atan2(prev[1] - cur[1], prev[0] - cur[0])
            best, best_ang = None, None
            for cand in outs:
                ang = (_math.atan2(cand[1] - cur[1], cand[0] - cur[0]) - base) % (2 * _math.pi)
                # smallest CCW rotation from the reversed arrival edge =
                # tightest left turn (keeps the region on the left)
                if ang > 1e-15 and (best_ang is None or ang < best_ang):
                    best, best_ang = cand, ang
            nxt = best if best is not None else outs[0]
        outs.remove(nxt)
        if not outs:
            del out_by_start[cur]
        return nxt

    rings = []
    while out_by_start:
        start = next(iter(out_by_start))
        cur = out_by_start[start][0]
        out_by_start[start].remove(cur)
        if not out_by_start[start]:
            del out_by_start[start]
        ring = [start, cur]
        prev = start
        guard = len(edges) + 2
        while cur != start and guard:
            nxt = take_next(prev, cur)
            if nxt is None:
                return None  # open chain: degenerate input
            prev, cur = cur, nxt
            ring.append(cur)
            guard -= 1
        if cur != start:
            return None
        pts = np.asarray(ring[:-1], dtype=np.float64)
        # drop collinear seam vertices (exact zero cross only — never move
        # the boundary); skipped when the caller needs piece-granularity
        # boundary edges for a second-level dissolve
        n = len(pts)
        if n >= 3 and drop_collinear:
            prev_i = np.roll(np.arange(n), 1)
            next_i = np.roll(np.arange(n), -1)
            cr = (pts[:, 0] - pts[prev_i, 0]) * (pts[next_i, 1] - pts[:, 1]) - (
                pts[:, 1] - pts[prev_i, 1]
            ) * (pts[next_i, 0] - pts[:, 0])
            keep = cr != 0.0
            if keep.sum() >= 3:
                pts = pts[keep]
        if len(pts) >= 3:
            rings.append(pts)
    if not rings:
        return None
    # 3. group rings into polygons: CCW outers, CW holes assigned to the
    # smallest containing outer
    sas = [ring_signed_area(np.vstack([r, r[:1]])) for r in rings]
    outers = sorted(
        ((r, sa) for r, sa in zip(rings, sas) if sa > 0), key=lambda t: t[1]
    )
    holes = [r for r, sa in zip(rings, sas) if sa < 0]
    polys = [[r] for r, _ in outers]
    areas = [a for _, a in outers]
    for h in holes:
        placed = False
        hx, hy = np.asarray([h[0, 0]]), np.asarray([h[0, 1]])
        for i, poly in enumerate(polys):  # smallest-first: tightest container wins
            if points_in_ring(hx, hy, poly[0])[0]:
                poly.append(h)
                placed = True
                break
        if not placed:
            return None
    del areas
    # 4. the safety contract (``input_area``: callers that already know
    # the input's total area — e.g. union_exact's closed-form trapezoid
    # sum — skip an O(pieces) shoelace recompute that dominates profiles
    # at millions of tiny fragments)
    in_area = input_area if input_area is not None else multipolygon_area(mp)
    if abs(multipolygon_area(polys) - in_area) > 1e-9 * max(abs(in_area), 1e-300):
        return None
    return polys
