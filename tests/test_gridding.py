"""M2: GridMaker — cell generation, quadtree mask classification, trim /
interior semantics, every mode against a per-cell numpy clip (SURVEY §2.7,
reference gridding.py)."""

import math
import random
import signal
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import gridding as GR
from pygridmap_spark.sources import polygons as PG

BBOX = (0.0, 0.0, 100_000.0, 100_000.0)
# classify_blocks class -> the (__intersects__, __within__) flags it stands for
FLAGS = {GR.ALL_IN: (True, True), GR.BOUNDARY: (True, False), GR.ALL_OUT: (False, False)}


def rect_mask(spark, x0, y0, x1, y1):
    pdf = pd.DataFrame({"poly_id": [0], "geometry": [wkb.encode_box(x0, y0, x1, y1)]})
    return spark.createDataFrame(pdf)


def wkb_mask(spark, wkbs):
    return spark.createDataFrame(list(enumerate(wkbs)), "poly_id long, geometry binary")


def cellwise(geoms, origin, cell, nx, ny):
    """Brute-force reference: {(ix, iy): (intersects, within)} from one
    numpy clip per cell and mask row, OR-reduced per row (gridding.py:180-182)."""
    (x0, y0), (h, w) = origin, cell
    area = h * w
    out = {}
    for ix in range(nx):
        for iy in range(ny):
            a = [
                G.multipolygon_clip_area(g, x0 + ix * w, y0 + iy * h, x0 + (ix + 1) * w, y0 + (iy + 1) * h)
                for g in geoms
                if any(len(p) for p in g)
            ]
            out[(ix, iy)] = (any(v > 1e-9 * area for v in a), any(v >= area * (1 - 1e-9) for v in a))
    return out


def tiny(cx, cy, d, h, w):
    """A triangle of area 2.12 * d^2 * h * w around (cx, cy)."""
    return wkb.encode_polygon([[(cx - d * w, cy - d * h), (cx + 1.3 * d * w, cy - 0.7 * d * h), (cx + 0.2 * d * w, cy + d * h)]])


def ngon(cx, cy, r, k=9):
    return [(cx + r * math.cos(2 * math.pi * i / k), cy + r * math.sin(2 * math.pi * i / k)) for i in range(k)]


def grid_flags(df):
    return {(r["cell_x"], r["cell_y"]): (r["__intersects__"], r["__within__"]) for r in df.collect()}


def expand(blocks, tol=0.0):
    """classify_blocks output -> {(ix, iy): cls}, asserting no cell twice;
    a BOUNDARY clip of at most ``tol`` reads as ALL_OUT, as grid_maker
    reads it."""
    out = {}
    for ix0, iy0, ix1, iy1, cls, area in blocks.itertuples(index=False):
        if cls == GR.BOUNDARY and area <= tol:
            cls = GR.ALL_OUT
        for ix in range(ix0, ix1):
            for iy in range(iy0, iy1):
                assert (ix, iy) not in out
                out[(ix, iy)] = cls
    return out


@contextmanager
def alarm(seconds, what):
    def _timeout(*_):
        raise TimeoutError(f"{what} did not terminate")

    old = signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def test_grid_maker_no_mask_counts(spark):
    out = GR.grid_maker(spark, bbox=BBOX, cell=(10_000.0, 10_000.0))
    rows = out.collect()
    assert len(rows) == 100
    xs = sorted({r["__x__"] for r in rows})
    assert xs == [i * 10_000.0 for i in range(10)]
    # tile ids: 32x32-cell default tile -> single tile 0
    assert {r["__tile__"] for r in rows} == {0}


def test_grid_maker_rect_mask_flags(spark):
    mask = rect_mask(spark, 23_000.0, 31_000.0, 68_500.0, 79_500.0)
    out = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=False
    ).collect()
    assert len(out) == 100
    for r in out:
        x0, y0 = r["__x__"], r["__y__"]
        inter = x0 < 68_500 and x0 + 10_000 > 23_000 and y0 < 79_500 and y0 + 10_000 > 31_000
        within = x0 >= 23_000 and x0 + 10_000 <= 68_500 and y0 >= 31_000 and y0 + 10_000 <= 79_500
        assert r["__intersects__"] == inter, (x0, y0)
        assert r["__within__"] == within, (x0, y0)


def test_grid_maker_trim_and_interior(spark):
    mask = rect_mask(spark, 23_000.0, 31_000.0, 68_500.0, 79_500.0)
    trimmed = GR.grid_maker(spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=True)
    n_inter = trimmed.count()
    interior = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=True, interior=True
    )
    n_within = interior.count()
    # intersecting band is strictly larger than the fully-within core
    assert n_inter > n_within > 0
    assert interior.filter(~F.col("__within__")).count() == 0


def test_grid_maker_polygon_mask_matches_numpy(spark):
    """Irregular polygon mask: engine flags equal direct numpy clip areas
    with the reference's OR-per-geometry reduction (gridding.py:180-182) —
    never summed across (possibly overlapping) mask rows."""
    polys_df = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_df.collect()]
    out = GR.grid_maker(
        spark, mask=polys_df, cell=(5_000.0, 5_000.0), bbox=BBOX, trim=False
    ).collect()
    cell_area = 5_000.0 * 5_000.0
    for r in out:
        areas = [
            G.multipolygon_clip_area(
                g, r["__x__"], r["__y__"], r["__x__"] + 5_000, r["__y__"] + 5_000
            )
            for g in geoms
        ]
        assert r["__intersects__"] == any(a > 1e-9 * cell_area for a in areas)
        assert r["__within__"] == any(a >= cell_area * (1 - 1e-9) for a in areas)


def test_grid_maker_null_mask_row(spark):
    """A NULL mask row covers nothing: the grid equals the grid of the
    other rows (it used to fail the mask collect with TypeError)."""
    polys_df = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    rows = [(r["poly_id"], r["geometry"]) for r in polys_df.collect()]
    with_null = spark.createDataFrame([*rows, (99, None)], "poly_id long, geometry binary")
    kw = dict(cell=(5_000.0, 5_000.0), bbox=BBOX, trim=False)
    want = grid_flags(GR.grid_maker(spark, mask=wkb_mask(spark, [g for _, g in rows]), **kw))
    assert grid_flags(GR.grid_maker(spark, mask=with_null, **kw)) == want
    assert any(i for i, _ in want.values())


def test_qtree_classify_parity_with_cellwise(spark):
    """The quadtree classifier decides every cell of the block exactly once
    and agrees with the per-cell numpy clip: ALL_IN = within, BOUNDARY =
    intersects only, ALL_OUT (when asked for) = neither."""
    polys_df = PG.synthetic_polygons(spark, n=2, bbox=BBOX, seed=9)
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_df.collect()]
    cell = (12_500.0, 12_500.0)  # 8x8 grid
    tol = 1e-9 * cell[0] * cell[1]
    blocks = GR.classify_blocks(geoms, (0.0, 0.0), cell, [(0, 0, 8, 8)], outside=True)
    got = expand(blocks, tol)
    want = cellwise(geoms, (0.0, 0.0), cell, 8, 8)
    assert {k: FLAGS[c] for k, c in got.items()} == want
    assert set(got.values()) == {GR.ALL_IN, GR.BOUNDARY, GR.ALL_OUT}
    # without outside=True, exterior blocks are not returned
    inside = expand(GR.classify_blocks(geoms, (0.0, 0.0), cell, [(0, 0, 8, 8)]))
    assert inside == {k: c for k, c in expand(blocks).items() if c != GR.ALL_OUT}


def test_grid_maker_emit_wkb(spark):
    out = GR.grid_maker(spark, bbox=(0.0, 0.0, 20_000.0, 20_000.0), cell=(10_000.0, 10_000.0), emit_wkb=True)
    rows = out.collect()
    for r in rows:
        kind, mp = wkb.decode(bytes(r["geometry"]))
        assert kind == "multipolygon"
        assert G.multipolygon_area(mp) == pytest.approx(1e8)


def test_qtree_mode_matches_prll_mode(spark):
    """Every mode emits the per-cell numpy clip's trimmed grid (the
    reference's mode equivalence, gridding.py:95-96, 191-255), with and
    without ``interior``."""
    polys_df = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_df.collect()]
    cell = (6_250.0, 6_250.0)  # 16x16 grid
    want = cellwise(geoms, (0.0, 0.0), cell, 16, 16)
    kw = dict(mask=polys_df, cell=cell, bbox=BBOX, trim=True)
    for mode in ("prll", "qtree", "seq"):
        got = grid_flags(GR.grid_maker(spark, mode=mode, **kw))
        assert got == {k: v for k, v in want.items() if v[0]} and got
        got = grid_flags(GR.grid_maker(spark, mode=mode, interior=True, **kw))
        assert got == {k: v for k, v in want.items() if v[1]} and got


def test_qtree_terminates_on_float_origin(spark):
    """A mask whose aligned bbox is 2 cells tall plus float error
    ((2.063 + 2.0) - 2.063 > 2.0): splitting by coordinates put the
    midline on the block edge and re-queued the block forever. Index
    blocks always shrink; every mode gives the same two boundary cells."""
    tri = wkb.encode_polygon([[(0.0, 2.063), (1.0, 2.063), (0.0, 4.063)]])
    mask = wkb_mask(spark, [tri])
    with alarm(10, "classify_blocks"):
        blocks = GR.classify_blocks([wkb.decode_multipolygon(tri)], (0.0, 2.063), (1.0, 1.0), [(0, 0, 1, 2)])
    assert sorted(b[:5] for b in blocks.itertuples(index=False)) == [(0, 0, 1, 1, GR.BOUNDARY), (0, 1, 1, 2, GR.BOUNDARY)]
    key = ["cell_x", "cell_y", "__intersects__", "__within__"]
    for mode in ("qtree", "prll"):
        got = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mask=mask, cell=(1.0, 1.0), mode=mode).collect()}
        assert got == {(0, 0, True, False), (0, 1, True, False)}


def test_sub_tolerance_clip_is_per_cell(spark):
    """The 1e-9 clip tolerance is a share of one CELL, not of the block
    being classified: a 16x16 block used to call a 1e-7 triangle "outside"
    (1e-7 < 1e-9 * 256) and a 1e-7 pinhole "within", so both modes dropped
    the triangle's cell and kept the pinholed cell in the interior grid."""
    kw = dict(cell=(1.0, 1.0), bbox=(0.0, 0.0, 16.0, 16.0))
    key = ["cell_x", "cell_y", "__intersects__", "__within__"]
    speck = wkb.encode_polygon([[(5.2, 5.2), (5.2005, 5.2), (5.2, 5.2004)]])  # area 1e-7
    holed = wkb.encode_polygon(
        [
            [(0.0, 0.0), (16.0, 0.0), (16.0, 16.0), (0.0, 16.0)],
            [(9.5, 9.5), (9.5, 9.5004), (9.5005, 9.5)],
        ]
    )
    for mode in ("prll", "qtree"):
        got = GR.grid_maker(spark, mask=wkb_mask(spark, [speck]), mode=mode, **kw)
        assert [tuple(r[k] for k in key) for r in got.collect()] == [(5, 5, True, False)]
        got = grid_flags(GR.grid_maker(spark, mask=wkb_mask(spark, [holed]), mode=mode, interior=True, **kw))
        assert len(got) == 255 and (9, 9) not in got


def test_classifier_differential_seeded(spark):
    """Seeded differential check of the shared classifier (flags and clip
    areas), every grid_maker trim variant, grid_overlay_polygons pieces,
    area_interpolate and polygon_pip_join against brute-force references:
    random star masks with holes, multipolygons, overlapping rows, empty
    rows, sources smaller than the 1e-9 cell-area tolerance, float origins
    and cell sizes, points outside the world box, on its edges and NaN."""
    from pygridmap_spark.operators import overlay as OV
    from pygridmap_spark.operators import spatialjoin as SJ

    rng = random.Random(20261017)

    def star(cx, cy, r):
        k = rng.randint(5, 11)
        pts = [
            (cx + r * rng.uniform(0.3, 1.0) * math.cos(2 * math.pi * i / k), cy + r * rng.uniform(0.3, 1.0) * math.sin(2 * math.pi * i / k))
            for i in range(k)
        ]
        return pts

    def layer(x0, y0, x1, y1):
        r = 0.3 * min(x1 - x0, y1 - y0)
        at = lambda: (rng.uniform(x0, x1), rng.uniform(y0, y1))  # noqa: E731
        cx, cy = at()
        holed = [star(cx, cy, r), [(cx - 0.1 * r, cy - 0.1 * r), (cx - 0.1 * r, cy + 0.1 * r), (cx + 0.1 * r, cy)]]
        return [
            wkb.encode_polygon(holed),
            wkb.encode_multipolygon([[star(*at(), 0.5 * r)], [star(*at(), 0.4 * r)]]),
            wkb.encode_polygon([star(cx + 0.2 * r, cy, r)]),  # overlaps the holed row
            wkb.encode_multipolygon([]),  # empty row
        ]

    def clip(g, x0, y0, h, w, ix0, iy0, ix1, iy1):
        return G.multipolygon_clip_area(g, x0 + ix0 * w, y0 + iy0 * h, x0 + ix1 * w, y0 + iy1 * h)

    with alarm(300, "differential check"):
        for _ in range(3):
            h, w = rng.uniform(0.5, 2.0), rng.uniform(0.5, 2.0)
            x0, y0 = rng.uniform(-50.0, 50.0), rng.uniform(-50.0, 50.0)
            nx, ny = rng.randint(9, 21), rng.randint(9, 21)
            bbox = (x0, y0, x0 + nx * w, y0 + ny * h)
            tol = 1e-9 * h * w
            rows = layer(*bbox)
            geoms = [wkb.decode_multipolygon(b) for b in rows]
            want = cellwise(geoms, (x0, y0), (h, w), nx, ny)
            blocks = GR.classify_blocks(geoms, (x0, y0), (h, w), [(0, 0, nx, ny)], outside=True)
            assert {k: FLAGS[c] for k, c in expand(blocks, tol).items()} == want
            # areas: a block's is its largest single-row clip, within 1e-9 of
            # a cell's area of the S-H clip; an ALL_IN block's is its own
            # area up to the tolerance, unless the largest clip is the
            # multipolygon's, whose random parts may overlap and then sum
            # past it; an ALL_OUT block's is exactly 0
            for ix0, iy0, ix1, iy1, cls, a in blocks.itertuples(index=False):
                clips = [clip(g, x0, y0, h, w, ix0, iy0, ix1, iy1) for g in geoms]
                if cls == GR.ALL_OUT:
                    assert a == 0.0
                else:
                    assert abs(a - max(clips)) <= tol
                if cls == GR.ALL_IN:
                    block_area = (x0 + ix1 * w - (x0 + ix0 * w)) * (y0 + iy1 * h - (y0 + iy0 * h))
                    assert a >= block_area - tol
                    assert a <= block_area + tol or max(clips) == clips[1]
            kw = dict(mask=wkb_mask(spark, rows), cell=(h, w), bbox=bbox, tile=(4, 4))
            full = GR.grid_maker(spark, trim=False, **kw).collect()
            assert {(r["cell_x"], r["cell_y"]): (r["__intersects__"], r["__within__"]) for r in full} == want
            assert all(r["__x__"] == pytest.approx(x0 + r["cell_x"] * w) for r in full)
            assert grid_flags(GR.grid_maker(spark, **kw)) == {k: v for k, v in want.items() if v[0]}
            got = grid_flags(GR.grid_maker(spark, interior=True, mode="qtree", **kw))
            assert got == {k: v for k, v in want.items() if v[1]}

            # overlay pieces against the per-cell clip on the lattice the
            # overlay reads off the cells: the same piece keys, and areas
            # (the whole cell's for an interior piece) within 1e-9 cell
            # areas of the S-H clip. Sources: the same rows, but a
            # multipolygon with disjoint parts instead of the random one
            # (overlapping parts are invalid geometry, whose interior
            # pieces count the cell once, ROADMAP item 6), and a
            # sub-tolerance source on a lattice corner
            cx, cy, pr = (bbox[0] + bbox[2]) / 2, (bbox[1] + bbox[3]) / 2, 0.2 * min(nx * w, ny * h)
            parts = wkb.encode_multipolygon([[ngon(cx - 1.2 * pr, cy, pr)], [ngon(cx + 1.2 * pr, cy, pr)]])
            sources = [rows[0], parts, *rows[2:], tiny(x0 + 3 * w, y0 + 3 * h, 1e-5, h, w)]
            lat = (
                min(r["__x__"] for r in full),
                min(r["__y__"] for r in full),
                max(r["ymax"] - r["__y__"] for r in full),
                max(r["xmax"] - r["__x__"] for r in full),
            )
            want_pieces = {}
            for pid, b in enumerate(sources):
                g = wkb.decode_multipolygon(b)
                for r in full:
                    ix, iy = r["cell_x"], r["cell_y"]
                    a = clip(g, *lat, ix, iy, ix + 1, iy + 1)
                    if a > 0:
                        want_pieces[(r["cell_id"], pid)] = a
            cells = GR.grid_maker(spark, trim=False, **kw).withColumnsRenamed({"__x__": "x", "__y__": "y"})
            polys = spark.createDataFrame(list(enumerate(sources)), "poly_id long, geometry binary")
            pieces = {
                (r["cell_id"], r["poly_id"]): r["piece_area"]
                for r in OV.grid_overlay_polygons(cells, polys, [], rule=None).collect()
            }
            assert pieces.keys() == want_pieces.keys()
            assert sum(pid == len(sources) - 1 for _, pid in pieces) == 4
            for k, a in want_pieces.items():
                assert abs(pieces[k] - a) <= tol

        # mass of a sub-tolerance source straddling a lattice corner on the
        # coordinate origin (off it: test_sub_tolerance_mass_off_origin)
        assert tiny_source_mass(spark, 0.0, h, w) == pytest.approx(7.0, rel=1e-9)

        rows = layer(-200.0, -100.0, 200.0, 100.0) + layer(150.0, 60.0, 230.0, 130.0)
        polys = wkb_mask(spark, rows)
        pts = [(rng.uniform(-260.0, 260.0), rng.uniform(-130.0, 130.0)) for _ in range(1500)]
        pts += [(180.0, rng.uniform(-90.0, 90.0)) for _ in range(50)]
        pts += [(rng.uniform(-180.0, 180.0), 90.0) for _ in range(50)]
        pts += [(180.0, 90.0), (float("nan"), 10.0), (10.0, float("nan"))]
        pdf = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)], "pid long, lon double, lat double")
        px, py = np.array([p[0] for p in pts]), np.array([p[1] for p in pts])
        want = {
            (int(i), pid)
            for pid, b in enumerate(rows)
            for i in np.nonzero(G.points_in_multipolygon(px, py, wkb.decode_multipolygon(b)))[0]
        }
        for z in (3, 6):
            got = {(r["pid"], r["poly_id"]) for r in SJ.polygon_pip_join(spark, pdf, polys, z=z).collect()}
            assert got == want and len(want) > 100


def tiny_source_mass(spark, corner, h, w):
    """Total ``pop`` area_interpolate assigns from a sub-tolerance source of
    pop 7 straddling the lattice corner at (corner, corner), over the 4
    cells it touches."""
    from pygridmap_spark.operators import overlay as OV

    grid = PG.grid_layer(spark, (corner - 3 * w, corner - 4 * h, corner + 5 * w, corner + 4 * h), (h, w))
    src = spark.createDataFrame([(0, tiny(corner, corner, 1e-5, h, w), 7.0)], "poly_id long, geometry binary, pop double")
    out = OV.area_interpolate(spark, src, grid, ["pop"]).collect()
    assert len(out) == 4
    return sum(r["pop"] for r in out)


@pytest.mark.xfail(
    strict=True,
    reason="ROADMAP item 6: the shoelace loses ~|x|^2 * 1e-16 absolute, ~1e-3 of a tiny source's area at |x| ~ 50",
)
def test_sub_tolerance_mass_off_origin(spark):
    assert tiny_source_mass(spark, 50.0, 1.3, 0.7) == pytest.approx(7.0, rel=1e-9)


def test_grid_maker_all_empty_mask(spark):
    """A mask whose rows are all NULL or empty has no extent: without a
    bbox grid_maker says so (it failed on ``min()`` of an empty sequence);
    with one, no cell intersects it."""
    mask = spark.createDataFrame([(0, None), (1, wkb.encode_multipolygon([]))], "poly_id long, geometry binary")
    with pytest.raises(ValueError, match="no non-empty geometry.*bbox"):
        GR.grid_maker(spark, mask=mask, cell=(10_000.0, 10_000.0))
    assert GR.grid_maker(spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=BBOX).count() == 0


def test_grid_shape_on_float_lattice(spark):
    """Origin ~ -31.9, cell width ~ 1.38: the aligned bbox is 11 cells wide,
    but its width over the cell width reads 11.000000000000002, and the ceil
    of it used to emit a 12th column outside the bbox."""
    x0, w = -31.90138253690217, 1.3798918398248385
    bbox = (x0, 0.0, x0 + 11 * w, 2.0)
    assert (B.align_bbox((1.0, w), bbox)[2] - x0) / w > 11
    cells = GR.grid_maker(spark, cell=(1.0, w), bbox=bbox, tile=(1, 4)).collect()
    assert sorted({r["cell_x"] for r in cells}) == list(range(11))
    assert len(cells) == 22 and {r["__tile__"] for r in cells} == set(range(6))


def test_tile_pass_partitions(spark, monkeypatch):
    """With a mask, the tile ``range`` gets one partition per
    ``TILE_EDGES_PER_TASK`` tiles x mask vertices, at most
    ``defaultParallelism``: one Python task classifies the 9 tiles of a
    box mask, three those of a 2,000-vertex star. Without a mask (no Python
    pass) every tile is a partition, up to ``defaultParallelism``. The grid
    is the same for any partition count."""
    dp = spark.sparkContext.defaultParallelism
    assert dp >= 3
    kw = dict(bbox=BBOX, cell=(1_000.0, 1_000.0), tile=(34, 34))
    assert GR.grid_maker(spark, **kw).rdd.getNumPartitions() == min(9, dp)
    box = spark.createDataFrame([(0, wkb.encode_box(*BBOX))], "poly_id long, geometry binary")
    assert GR.grid_maker(spark, box, **kw).rdd.getNumPartitions() == 1
    r, n = 40_000.0, 2_000
    star = [((r if k % 2 else 0.8 * r) * math.cos(2 * math.pi * k / n) + 50_000.0,
             (r if k % 2 else 0.8 * r) * math.sin(2 * math.pi * k / n) + 50_000.0) for k in range(n)]
    assert 2 * GR.TILE_EDGES_PER_TASK < 9 * n <= 3 * GR.TILE_EDGES_PER_TASK
    detailed = spark.createDataFrame([(0, wkb.encode_polygon([star]))], "poly_id long, geometry binary")
    assert GR.grid_maker(spark, detailed, **kw).rdd.getNumPartitions() == 3
    mask = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    kw = dict(mask=mask, cell=(2_500.0, 2_500.0), bbox=BBOX, tile=(4, 4), mode="qtree")
    want = sorted(GR.grid_maker(spark, **kw).collect())
    assert GR.grid_maker(spark, **kw).rdd.getNumPartitions() == 1
    monkeypatch.setattr(GR, "TILE_EDGES_PER_TASK", 1)
    many = GR.grid_maker(spark, **kw)
    assert many.rdd.getNumPartitions() == dp
    assert sorted(many.collect()) == want and want


def test_grid_maker_lattice_record(spark):
    """grid_maker attaches its lattice to ``__x__`` next to the CRS entry,
    and the record survives the overlay's rename and a checkpoint. Other
    xypos anchors move ``__x__`` off the cell corner and get no record."""
    x0 = -31.90138253690217
    bbox = (x0, 0.5, x0 + 7_000.0, 4_000.0)
    grid = GR.grid_maker(spark, bbox=bbox, cell=(1_000.0, 2_000.0), crs=3035)
    want = {"x0": x0, "y0": 0.5, "width": 2_000.0, "height": 1_000.0, "nrows": 4, "ncols": 4}
    assert grid.schema["__x__"].metadata == {"crs": "EPSG:3035", "lattice": want}
    renamed = grid.withColumnsRenamed({"__x__": "x", "__y__": "y"})
    assert GR.lattice_of(renamed, "x") == want and GR.lattice_of(renamed, "__x__") is None
    assert GR.lattice_of(renamed.localCheckpoint(), "x") == want
    rows = grid.collect()
    assert max(r["cell_x"] for r in rows) == want["ncols"] - 1
    assert max(r["cell_y"] for r in rows) == want["nrows"] - 1
    assert {r["__x__"] for r in rows} == {x0 + i * 2_000.0 for i in range(4)}
    for xypos in ("CC", "URc"):
        assert GR.lattice_of(GR.grid_maker(spark, bbox=bbox, cell=(1_000.0, 2_000.0), xypos=xypos), "__x__") is None


def test_classifier_paths_never_clip(spark, monkeypatch):
    """grid_maker (qtree, trim=False), polygon_pip_join and area_interpolate
    classify with the rect-coverage kernel only: with the Sutherland–Hodgman
    clip made to raise, in the driver and (the modules pickled by value)
    in the Python workers, all of them still run."""
    from pyspark import cloudpickle

    from pygridmap_spark.operators import overlay as OV
    from pygridmap_spark.operators import spatialjoin as SJ

    def refuse(*_):
        raise AssertionError("Sutherland-Hodgman clip called")

    monkeypatch.setattr(G, "multipolygon_clip_area", refuse)
    monkeypatch.setattr(G, "clip_area", refuse)
    mods = (G, GR, OV, SJ)
    for m in mods:
        cloudpickle.register_pickle_by_value(m)
    try:
        polys = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
        # the patch reaches the workers: a UDF calling the clip fails there
        probe = polys.select("geometry").mapInPandas(
            lambda it: (pd.DataFrame({"a": [G.multipolygon_clip_area(None, 0, 0, 1, 1)]}) for _ in it), "a double"
        )
        with pytest.raises(Exception, match="Sutherland-Hodgman clip called"):
            probe.collect()
        kw = dict(mask=polys, cell=(10_000.0, 10_000.0), bbox=BBOX)
        assert GR.grid_maker(spark, mode="qtree", **kw).count() > 0
        assert GR.grid_maker(spark, trim=False, **kw).count() == 100
        regions = PG.synthetic_polygons(spark, n=3, bbox=(0.0, 0.0, 80.0, 80.0), seed=5)
        pts = spark.createDataFrame([(i, 0.8 * i, 0.8 * i) for i in range(100)], "pid long, lon double, lat double")
        assert SJ.polygon_pip_join(spark, pts, regions, z=6).count() > 0
        cells = PG.grid_layer(spark, (-20_000.0, -20_000.0, 160_000.0, 160_000.0), (20_000.0, 20_000.0))
        out = OV.area_interpolate(spark, polys, cells, ["pop"]).agg(F.sum("pop")).collect()[0][0]
        assert out == pytest.approx(sum(r["pop"] for r in polys.collect()), rel=1e-9)
    finally:
        for m in mods:
            cloudpickle.unregister_pickle_by_value(m)


def test_qtree_requires_trim(spark):
    polys_df = PG.synthetic_polygons(spark, n=2, bbox=BBOX, seed=1)
    with pytest.raises(ValueError):
        GR.grid_maker(spark, mask=polys_df, cell=(10_000.0, 10_000.0), bbox=BBOX, trim=False, mode="qtree")


def test_frame_map_and_row_apply(spark):
    from pygridmap_spark.operators import frames

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    out = frames.frame_map(df, lambda pdf: pdf[pdf["v"] > 50], "id long, v double")
    assert out.count() == 74
    ra = frames.row_apply(df, lambda row: row["id"] + row["v"], "s", "double")
    assert ra.agg(F.sum("s")).collect()[0][0] == sum(i + 2.0 * i for i in range(100))
    ga = frames.grouped_apply(
        df.withColumn("g", (F.col("id") % 4).cast("int")),
        ["g"],
        lambda pdf: pdf.nlargest(1, "v"),
        "id long, v double, g int",
    )
    assert ga.count() == 4


def test_tile_classification_matches_cellwise(spark):
    """Small processing tiles (4x4 cells, 25 tiles) with trim=False: every
    cell of the grid comes back once, flagged as the per-cell numpy clip
    says, whether its tile is interior, exterior or cut by the mask."""
    boxes = [(15_000.0, 15_000.0, 70_000.0, 55_000.0), (60_000.0, 60_000.0, 95_000.0, 95_000.0)]
    mask = wkb_mask(spark, [wkb.encode_box(*b) for b in boxes])
    got = grid_flags(
        GR.grid_maker(spark, mask=mask, cell=(5_000.0, 5_000.0), bbox=BBOX, tile=[4, 4], trim=False)
    )
    geoms = [wkb.decode_multipolygon(wkb.encode_box(*b)) for b in boxes]
    assert len(got) == 400
    assert got == cellwise(geoms, (0.0, 0.0), (5_000.0, 5_000.0), 20, 20)
