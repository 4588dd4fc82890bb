"""M2: GridMaker — cell generation, two-phase mask classification, trim /
interior semantics, qtree parity (SURVEY §2.7, reference gridding.py)."""

import math
import signal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import gridding as GR
from pygridmap_spark.sources import polygons as PG

BBOX = (0.0, 0.0, 100_000.0, 100_000.0)


def rect_mask(spark, x0, y0, x1, y1):
    pdf = pd.DataFrame({"poly_id": [0], "geometry": [wkb.encode_box(x0, y0, x1, y1)]})
    return spark.createDataFrame(pdf)


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


def test_qtree_classify_parity_with_cellwise(spark):
    """Quadtree refinement emits exactly the cells the flat classification
    does (the reference's qtree vs prll mode equivalence)."""
    polys_df = PG.synthetic_polygons(spark, n=2, bbox=BBOX, seed=9)
    geoms = [wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_df.collect()]
    cell = (12_500.0, 12_500.0)  # 8x8 grid, power-of-2 friendly
    interior, boundary = GR.qtree_classify(geoms, list(BBOX), cell)
    # expand interior index blocks into the cells they cover
    qtree_cells = {
        (ix * cell[1], iy * cell[0])
        for ix0, iy0, ix1, iy1 in interior
        for ix in range(ix0, ix1)
        for iy in range(iy0, iy1)
    }
    boundary_cells = {(ix * cell[1], iy * cell[0]) for ix, iy in boundary}
    # flat (prll-style) classification of every cell
    flat_inter, flat_within = set(), set()
    cell_area = cell[0] * cell[1]
    for ix in range(8):
        for iy in range(8):
            x0, y0 = ix * cell[1], iy * cell[0]
            areas = [
                G.multipolygon_clip_area(g, x0, y0, x0 + cell[1], y0 + cell[0])
                for g in geoms
            ]
            if any(a > 1e-9 * cell_area for a in areas):
                flat_inter.add((x0, y0))
            if any(a >= cell_area * (1 - 1e-9) for a in areas):
                flat_within.add((x0, y0))
    # every fully-within cell is in an interior block; every other
    # intersecting cell is among boundary candidates
    assert flat_within == qtree_cells
    assert flat_inter - flat_within <= boundary_cells
    # boundary candidates never include fully-within cells
    assert not (boundary_cells & qtree_cells)


def test_grid_maker_emit_wkb(spark):
    out = GR.grid_maker(spark, bbox=(0.0, 0.0, 20_000.0, 20_000.0), cell=(10_000.0, 10_000.0), emit_wkb=True)
    rows = out.collect()
    for r in rows:
        kind, mp = wkb.decode(bytes(r["geometry"]))
        assert kind == "multipolygon"
        assert G.multipolygon_area(mp) == pytest.approx(1e8)


def test_qtree_mode_matches_prll_mode(spark):
    """mode='qtree' produces exactly the prll-mode trimmed grid
    (the reference's mode-equivalence, gridding.py:95-96, 191-255)."""
    polys_df = PG.synthetic_polygons(spark, n=3, bbox=BBOX, seed=5)
    kw = dict(mask=polys_df, cell=(6_250.0, 6_250.0), bbox=BBOX, trim=True)
    prll = GR.grid_maker(spark, mode="prll", **kw)
    qtree = GR.grid_maker(spark, mode="qtree", **kw)
    key = ["cell_x", "cell_y", "__intersects__", "__within__"]
    p = {tuple(r[k] for k in key) for r in prll.collect()}
    q = {tuple(r[k] for k in key) for r in qtree.collect()}
    assert p == q and len(p) > 0
    # interior-only variant too
    p2 = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="prll", interior=True, **kw).collect()}
    q2 = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="qtree", interior=True, **kw).collect()}
    assert p2 == q2


def test_qtree_terminates_on_float_origin(spark):
    """A mask whose aligned bbox is 2 cells tall plus float error
    ((2.063 + 2.0) - 2.063 > 2.0): splitting by coordinates put the
    midline on the block edge and re-queued the block forever. Index
    blocks always shrink; the output equals mode='prll'."""
    tri = wkb.encode_polygon([[(0.0, 2.063), (1.0, 2.063), (0.0, 4.063)]])
    mask = spark.createDataFrame([(0, tri)], "poly_id long, geometry binary")
    geoms = [wkb.decode_multipolygon(tri)]

    def _timeout(*_):
        raise TimeoutError("qtree_classify did not terminate")

    old = signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(10)
    try:
        interior, boundary = GR.qtree_classify(geoms, [0.0, 2.063, 1.0, 2.063 + 2.0], (1.0, 1.0))
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert interior == [] and sorted(boundary) == [(0, 0), (0, 1)]
    key = ["cell_x", "cell_y", "__intersects__", "__within__"]
    kw = dict(mask=mask, cell=(1.0, 1.0))
    q = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="qtree", **kw).collect()}
    p = {tuple(r[k] for k in key) for r in GR.grid_maker(spark, mode="prll", **kw).collect()}
    assert q == p == {(0, 0, True, False), (0, 1, True, False)}


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


def test_distributed_tile_classification_matches_driver(spark, monkeypatch):
    """Past DRIVER_TILE_LIMIT, grid_maker's phase A runs distributed; the
    END-TO-END output must match the driver-loop path cell for cell
    (cutover forced by monkeypatching the module constant)."""
    import pandas as pd

    import pygridmap_spark.operators.gridding as gr_mod
    from pygridmap_spark.core import wkb

    pdf = pd.DataFrame(
        {
            "poly_id": [0, 1],
            "geometry": [
                wkb.encode_box(15_000.0, 15_000.0, 70_000.0, 55_000.0),
                wkb.encode_box(60_000.0, 60_000.0, 95_000.0, 95_000.0),
            ],
        }
    )
    mask = spark.createDataFrame(pdf)
    kwargs = dict(
        mask=mask, cell=(5_000.0, 5_000.0), bbox=(0.0, 0.0, 100_000.0, 100_000.0),
        tile=[4, 4], trim=False,
    )
    driver = {
        (r["cell_x"], r["cell_y"]): (r["__intersects__"], r["__within__"])
        for r in GR.grid_maker(spark, **kwargs).collect()
    }
    monkeypatch.setattr(gr_mod, "DRIVER_TILE_LIMIT", 0)  # force distributed
    dist = {
        (r["cell_x"], r["cell_y"]): (r["__intersects__"], r["__within__"])
        for r in GR.grid_maker(spark, **kwargs).collect()
    }
    assert len(driver) == 400
    assert dist == driver
