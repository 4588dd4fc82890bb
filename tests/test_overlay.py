"""M3: the reference's three asserted overlay invariants as exact goldens
(tests/overlay.ipynb cells 26-32), plus the WKB-polygon overlay path checked
against numpy-computed expected areas.

These are "the reference implementation's overlay unit tests" the north
star requires matching.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import overlay as OV
from pygridmap_spark.sources import polygons as PG

BBOX = (0.0, 0.0, 200_000.0, 200_000.0)


@pytest.fixture(scope="module")
def grid(spark):
    # 4x4 grid of 50km cells, val = cell_id + 1 (the DUMMYCOL analog)
    return PG.grid_layer(spark, BBOX, (50_000.0, 50_000.0)).cache()


def test_overlay_identity(spark, grid):
    """Overlay a grid WITH ITSELF (how in {union, intersection}, rule='sum')
    preserves the value column exactly (tests/overlay.ipynb cell 26)."""
    for how in ("intersection", "union"):
        out = OV.grid_overlay_rects(grid, grid, ["val"], rule="sum", how=how)
        got = {r["cell_id"]: r["val"] for r in out.collect()}
        want = {r["cell_id"]: r["val"] for r in grid.collect()}
        assert got == pytest.approx(want), how


def test_overlay_mass_conservation(spark, grid):
    """Coarse grid onto nscale x finer grid with rule='sum': each fine cell
    gets val/nscale^2; re-summing the nscale^2 pieces restores val exactly
    (tests/overlay.ipynb cells 28-30)."""
    nscale = 4
    fine = PG.grid_layer(spark, BBOX, (50_000.0 / nscale, 50_000.0 / nscale))
    out = OV.grid_overlay_rects(fine, grid, ["val"], rule="sum", how="intersection")
    rows = out.collect()
    assert len(rows) == 16 * nscale * nscale
    coarse_val = {r["cell_id"]: r["val"] for r in grid.collect()}
    # every fine cell got exactly val/nscale^2 of its containing coarse cell
    for r in rows:
        cx, cy = r["cell_x"], r["cell_y"]
        coarse_id = (cx // nscale) + (cy // nscale) * 4
        assert r["val"] == pytest.approx(coarse_val[coarse_id] / nscale**2)
    # re-sum restores the coarse values exactly
    total = sum(r["val"] for r in rows)
    assert total == pytest.approx(sum(coarse_val.values()))


def test_overlay_rule_vs_pct_consistency(spark, grid):
    """sum(val * area_pct) from a rule=None run equals the rule='sum'
    output per cell (tests/overlay.ipynb cell 32) — on an offset grid so
    cells straddle multiple 'polygons'."""
    offset = PG.grid_layer(
        spark, (25_000.0, 25_000.0, 175_000.0, 175_000.0), (50_000.0, 50_000.0)
    )
    pieces = OV.grid_overlay_rects(offset, grid, ["val"], rule=None)
    manual = (
        pieces.groupBy("cell_id")
        .agg(F.sum(F.col("val") * F.col("area_pct")).alias("val"))
        .collect()
    )
    summed = OV.grid_overlay_rects(offset, grid, ["val"], rule="sum").collect()
    got = {r["cell_id"]: r["val"] for r in summed}
    for r in manual:
        assert got[r["cell_id"]] == pytest.approx(r["val"])
    # every interior offset cell overlaps exactly 4 coarse cells at pct 1/16
    counts = pieces.groupBy("cell_id").count().collect()
    assert all(r["count"] == 4 for r in counts)


def test_overlay_rules_min_max_list(spark, grid):
    offset = PG.grid_layer(
        spark, (25_000.0, 25_000.0, 175_000.0, 175_000.0), (50_000.0, 50_000.0)
    )
    mx = OV.grid_overlay_rects(offset, grid, ["val"], rule="max", area=True).collect()
    # each offset cell overlaps 4 coarse cells, each piece 25km x 25km =
    # 1/4 of the coarse cell's area -> chosen piece's area_pct is 1/4
    for r in mx:
        assert r["area_pct"] == pytest.approx(1 / 4)
    lst = OV.grid_overlay_rects(offset, grid, ["val"], rule="list").collect()
    for r in lst:
        assert len(r["__cover__"]) == 4
        assert r["__cover__"] == sorted(r["__cover__"])


def test_union_keeps_nonmatching_cells(spark, grid):
    # grid vs a single far-away rect: union keeps all 16 cells (null attrs),
    # intersection keeps none
    far = PG.grid_layer(spark, (900_000.0, 900_000.0, 950_000.0, 950_000.0), (50_000.0, 50_000.0))
    inter = OV.grid_overlay_rects(grid, far, ["val"], rule="sum", how="intersection")
    assert inter.count() == 0
    uni = OV.grid_overlay_rects(grid, far, ["val"], rule="sum", how="union")
    assert uni.count() == 16
    assert uni.filter(F.col("val").isNotNull()).count() == 0


def test_polygon_overlay_matches_numpy(spark, grid):
    """WKB-polygon path: piece areas equal the numpy kernel's direct
    computation for every (cell, polygon) pair."""
    polys = PG.synthetic_polygons(spark, n=6, bbox=BBOX, seed=11)
    pieces = OV.grid_overlay_polygons(grid, polys, ["pop"], rule=None).collect()
    cells = {r["cell_id"]: (r["x"], r["y"], r["xmax"], r["ymax"]) for r in grid.collect()}
    geoms = {
        r["poly_id"]: wkb.decode_multipolygon(bytes(r["geometry"]))
        for r in polys.collect()
    }
    assert len(pieces) > 0
    seen_nonzero = 0
    for r in pieces:
        x0, y0, x1, y1 = cells[r["cell_id"]]
        mp = geoms[r["poly_id"]]
        want = G.multipolygon_clip_area(mp, x0, y0, x1, y1)
        assert r["piece_area"] == pytest.approx(want, rel=1e-9)
        want_pct = want / G.multipolygon_area(mp)
        assert r["area_pct"] == pytest.approx(want_pct, rel=1e-9)
        seen_nonzero += 1
    assert seen_nonzero > 0
    # completeness: every nonzero numpy intersection appears as a piece
    got_pairs = {(r["cell_id"], r["poly_id"]) for r in pieces}
    for cid, (x0, y0, x1, y1) in cells.items():
        for pid, mp in geoms.items():
            if G.multipolygon_clip_area(mp, x0, y0, x1, y1) > 1e-6:
                assert (cid, pid) in got_pairs


def test_area_interpolate_mass_conservation(spark, grid):
    """Areal interpolation conserves total mass for polygons fully inside
    the grid: sum over cells of interpolated pop == sum of poly pops."""
    polys = PG.synthetic_polygons(spark, n=5, bbox=(20_000.0, 20_000.0, 180_000.0, 180_000.0), seed=3)
    out = OV.area_interpolate(spark, polys, grid, ["pop"])
    total = out.agg(F.sum("pop")).collect()[0][0]
    want = sum(r["pop"] for r in polys.select("pop").collect())
    assert total == pytest.approx(want, rel=1e-9)
    # cover lists present and sorted
    assert out.filter(F.size("__cover__") >= 1).count() == out.count()


def test_polygon_overlay_null_geometry(spark, grid):
    """A NULL source geometry gives no pieces and leaves the other
    sources' pieces and the interpolated mass unchanged (it used to fail
    the classifier pass with TypeError)."""
    polys = PG.synthetic_polygons(spark, n=5, bbox=(20_000.0, 20_000.0, 180_000.0, 180_000.0), seed=3)
    rows = polys.select("poly_id", "geometry", "pop").collect()
    with_null = spark.createDataFrame([*rows, (99, None, 1e6)], "poly_id long, geometry binary, pop double")
    clean = spark.createDataFrame(rows, "poly_id long, geometry binary, pop double")

    def pieces(p):
        return sorted(
            (r["cell_id"], r["poly_id"], r["piece_area"])
            for r in OV.grid_overlay_polygons(grid, p, ["pop"], rule=None).collect()
        )

    want = pieces(clean)
    assert pieces(with_null) == want and want
    total = OV.area_interpolate(spark, with_null, grid, ["pop"]).agg(F.sum("pop")).collect()[0][0]
    assert total == pytest.approx(sum(r["pop"] for r in rows), rel=1e-9)


def test_distributed_polygon_overlay_rules(spark, grid):
    polys = PG.synthetic_polygons(spark, n=4, bbox=(20_000.0, 20_000.0, 180_000.0, 180_000.0), seed=3)
    out = OV.grid_overlay_polygons(grid, polys, ["pop"], rule="sum", area=True, cover=True)
    total = out.agg(F.sum("pop")).collect()[0][0]
    want = sum(r["pop"] for r in polys.select("pop").collect())
    assert total == pytest.approx(want, rel=1e-9)


def test_polygon_overlay_rejects_non_lattice_cells(spark, grid):
    """Interior pieces take the lattice cell's area, so a cells layer with
    one cell cut short (an edge cell trimmed to an extent) is refused
    rather than over-assigned."""
    cut = grid.withColumn("xmax", F.when(F.col("cell_id") == 3, F.col("x") + 30_000.0).otherwise(F.col("xmax")))
    polys = PG.synthetic_polygons(spark, n=2, bbox=BBOX, seed=3)
    with pytest.raises(ValueError, match="not one lattice"):
        OV.grid_overlay_polygons(cut, polys, ["pop"], rule=None)
    with pytest.raises(ValueError, match="not one lattice"):
        OV.area_interpolate(spark, polys, cut, ["pop"])


def test_area_interpolate_plan_over_lazy_grid(spark):
    """Over a lazy grid_maker grid, the executed plan classifies the grid
    once and the sources once — two Python nodes, the grid's ``_classify``
    and the overlay's — and the only job before the action is the mask
    collect: the overlay reads the lattice from the grid's record."""
    sources = PG.synthetic_polygons(spark, n=20, bbox=(-6_000.0, -6_000.0, 6_000.0, 6_000.0), seed=7, with_multi=False)
    sc = spark.sparkContext
    group = "area_interpolate_lazy_grid"
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        cells = _star_grid(spark)
        out = OV.area_interpolate(spark, sources, cells, ["pop"])
        planned = set(sc.statusTracker().getJobIdsForGroup(group))
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(planned - before) == 1
    # the action ran on this query execution, so its plan is AQE's final one
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("MapInPandas") == 2, final
    want = sum(r["pop"] for r in sources.select("pop").collect())
    assert sum(r["pop"] for r in rows) == pytest.approx(want, rel=1e-9)


def _star_grid(spark):
    from pygridmap_spark.operators import gridding as GR

    star = [
        ((20_000.0 if k % 2 else 12_000.0) * math.cos(math.pi * k / 8), (20_000.0 if k % 2 else 12_000.0) * math.sin(math.pi * k / 8))
        for k in range(16)
    ]
    mask = spark.createDataFrame([(0, wkb.encode_polygon([star]))], "poly_id long, geometry binary")
    return GR.grid_maker(
        spark, mask, cell=(1_000.0, 1_000.0), bbox=(-20_000.0, -20_000.0, 20_000.0, 20_000.0), mode="qtree"
    ).withColumnsRenamed({"__x__": "x", "__y__": "y"})


@pytest.mark.parametrize(
    "edit",
    [
        {"xmax": -300.0},  # cut short
        {"y": 300.0, "ymax": 300.0},  # shifted off its corner
    ],
    ids=["cut", "shifted"],
)
def test_area_interpolate_rejects_cell_off_record(spark, edit):
    """One cell of a grid_maker grid cut short or shifted contradicts the
    lattice record the overlay reads, and the action fails naming the
    lattice: interior pieces would take the full cell's area."""
    cells = _star_grid(spark)
    one = F.col("cell_id") == cells.select(F.min("cell_id")).collect()[0][0]
    bad = cells.withColumns({c: F.when(one, F.col(c) + d).otherwise(F.col(c)) for c, d in edit.items()})
    sources = PG.synthetic_polygons(spark, n=4, bbox=(-6_000.0, -6_000.0, 6_000.0, 6_000.0), seed=7, with_multi=False)
    out = OV.area_interpolate(spark, sources, bad, ["pop"])  # plans without a job
    with pytest.raises(Exception, match=r"not on their lattice \(x0=-20000.0, y0=-20000.0, width=1000.0"):
        out.collect()
    assert OV.area_interpolate(spark, sources, cells, ["pop"]).count() > 0


def _maker_grid(spark, bbox, cell):
    from pygridmap_spark.operators import gridding as GR

    return GR.grid_maker(spark, bbox=bbox, cell=cell).withColumnsRenamed({"__x__": "x", "__y__": "y"})


def _without_record(df):
    from pygridmap_spark.operators import gridding as GR

    meta = {k: v for k, v in df.schema["x"].metadata.items() if k != GR.LATTICE_META_KEY}
    return df.withMetadata("x", meta)


def test_area_interpolate_union_of_adjacent_grids(spark):
    """Two grid_maker grids over adjacent, cell-aligned bboxes unioned keep
    the first grid's record; the second grid's cells lie outside its shape
    but on its lattice, so the overlay takes them, as it does the same
    union without a record."""
    from pygridmap_spark.operators import gridding as GR

    west = _maker_grid(spark, (0.0, 0.0, 10_000.0, 10_000.0), (1_000.0, 1_000.0))
    east = _maker_grid(spark, (10_000.0, 0.0, 20_000.0, 10_000.0), (1_000.0, 1_000.0))
    cells = west.unionByName(east)
    assert GR.lattice_of(cells, "x") == GR.lattice_of(west, "x")
    sources = PG.synthetic_polygons(spark, n=12, bbox=(500.0, 500.0, 19_500.0, 9_500.0), seed=5, with_multi=False)

    def pops(layer):
        rows = OV.area_interpolate(spark, sources, layer, ["pop"]).collect()
        return {(r["x"], r["y"]): r["pop"] for r in rows if r["pop"] is not None}

    got = pops(cells)
    assert got == pops(_without_record(cells))
    assert any(x >= 10_000.0 for x, _ in got)
    want = sum(r["pop"] for r in sources.select("pop").collect())
    assert sum(got.values()) == pytest.approx(want, rel=1e-9)


def test_rect_overlay_union_of_grids_of_two_sizes(spark):
    """A fine and a coarse grid_maker grid unioned as the right layer carry
    only the fine grid's record; the rect path keys that layer by its own
    largest cell, so every coarse cell still finds its left rects and the
    mass is conserved."""
    from pygridmap_spark.operators import gridding as GR

    fine = _maker_grid(spark, (0.0, 0.0, 4_000.0, 4_000.0), (1_000.0, 1_000.0))
    coarse = _maker_grid(spark, (4_000.0, 0.0, 12_000.0, 4_000.0), (2_000.0, 2_000.0))
    other = fine.unionByName(coarse).withColumn("val", F.col("x") + 10 * F.col("y") + 1.0)
    assert GR.lattice_of(other, "x") == GR.lattice_of(fine, "x")
    left = PG.grid_layer(spark, (0.0, 0.0, 12_000.0, 4_000.0), (500.0, 500.0))
    rows = OV.grid_overlay_rects(left, other, ["val"], rule="sum", how="intersection").collect()
    assert len(rows) == 24 * 8
    want = sum(r["val"] for r in other.select("val").collect())
    assert sum(r["val"] for r in rows) == pytest.approx(want, rel=1e-12)


def test_piece_geometry_rect_path(spark, grid):
    """emit_wkb on the rect x rect path: every piece carries the exact
    intersection rectangle as WKB (corners closed-form checkable)."""
    fine = PG.grid_layer(spark, (25_000.0, 25_000.0, 175_000.0, 175_000.0), (50_000.0, 50_000.0))
    pieces = OV.grid_overlay_rects(
        fine, grid.selectExpr("cell_id as poly_id", "x", "y", "xmax", "ymax", "val"),
        ["val"], rule=None, emit_wkb=True,
    ).collect()
    assert len(pieces) > 0
    fine_rects = {r["cell_id"]: (r["x"], r["y"], r["xmax"], r["ymax"]) for r in fine.collect()}
    coarse_rects = {r["cell_id"]: (r["x"], r["y"], r["xmax"], r["ymax"]) for r in grid.collect()}
    for r in pieces:
        ax, ay, axm, aym = fine_rects[r["cell_id"]]
        bx, by, bxm, bym = coarse_rects[r["poly_id"]]
        want = (max(ax, bx), max(ay, by), min(axm, bxm), min(aym, bym))
        mp = wkb.decode_multipolygon(bytes(r["geometry"]))
        ring = mp[0][0]
        got = (ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max())
        assert got == pytest.approx(want, abs=1e-9)
        # piece area equals the geometry's shoelace area
        assert r["piece_area"] == pytest.approx(G.multipolygon_area(mp), rel=1e-12)


def test_piece_geometry_polygon_path(spark, grid):
    """emit_wkb on the WKB-polygon path: every piece's area equals the
    numpy clip of its polygon to its cell, shoelace(decoded piece WKB) ==
    piece_area for every row, and holes are preserved."""
    polys = PG.synthetic_polygons(spark, n=6, bbox=BBOX, seed=11)
    pieces = OV.grid_overlay_polygons(grid, polys, ["pop"], rule=None, emit_wkb=True).collect()
    assert len(pieces) > 0
    cells = {r["cell_id"]: (r["x"], r["y"], r["xmax"], r["ymax"]) for r in grid.collect()}
    geoms = {
        r["poly_id"]: wkb.decode_multipolygon(bytes(r["geometry"]))
        for r in polys.collect()
    }
    for r in pieces:
        mp = wkb.decode_multipolygon(bytes(r["geometry"]))
        assert r["piece_area"] == pytest.approx(G.multipolygon_area(mp), rel=1e-12)
        want = G.multipolygon_clip_area(geoms[r["poly_id"]], *cells[r["cell_id"]])
        assert r["piece_area"] == pytest.approx(want, rel=1e-9)
    # the with-hole polygon (poly_id n-2) must keep its hole in at least
    # one piece: some decoded piece has a polygon with >1 ring
    hole_pieces = [r for r in pieces if r["poly_id"] == 4]
    assert any(
        len(poly) > 1
        for r in hole_pieces
        for poly in wkb.decode_multipolygon(bytes(r["geometry"]))
    ), "hole lost in clipped piece geometry"


def test_piece_geometry_union_full(spark, grid):
    """emit_wkb + how='union_full': unmatched cells carry their rect WKB,
    unmatched polygons their original geometry, pieces their clip."""
    # polygons confined to a corner so most grid cells are unmatched
    polys = PG.synthetic_polygons(
        spark, n=3, bbox=(0.0, 0.0, 60_000.0, 60_000.0), seed=5, with_hole=False, with_multi=False
    )
    out = OV.grid_overlay_polygons(
        grid, polys, ["pop"], rule=None, how="union_full", emit_wkb=True
    ).collect()
    rects = {r["cell_id"]: (r["x"], r["y"], r["xmax"], r["ymax"]) for r in grid.collect()}
    orig = {r["poly_id"]: bytes(r["geometry"]) for r in polys.collect()}
    un_cells = [r for r in out if r["poly_id"] is None]
    un_polys = [r for r in out if r["cell_id"] is None]
    assert un_cells, "expected unmatched grid cells"
    for r in un_cells:
        mp = wkb.decode_multipolygon(bytes(r["geometry"]))
        ring = mp[0][0]
        x0, y0, x1, y1 = rects[r["cell_id"]]
        assert (ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()) == pytest.approx((x0, y0, x1, y1))
    for r in un_polys:
        assert bytes(r["geometry"]) == orig[r["poly_id"]]


def test_emit_wkb_requires_rule_none(spark, grid):
    with pytest.raises(ValueError, match="rule=None"):
        OV.grid_overlay_rects(grid, grid, ["val"], rule="sum", emit_wkb=True)


# ---------------------------------------------------------------------------
# general polygon x polygon overlay (round 3)
# ---------------------------------------------------------------------------


def _rects_as_polys(spark, grid_df, key_name):
    import pandas as pd

    rows = grid_df.select("cell_id", "x", "y", "xmax", "ymax").collect()
    return spark.createDataFrame(
        pd.DataFrame(
            {
                key_name: [r["cell_id"] for r in rows],
                "geometry": [
                    wkb.encode_box(r["x"], r["y"], r["xmax"], r["ymax"]) for r in rows
                ],
            }
        )
    )


def test_polygon_overlay_pieces_matches_grid_path(spark, grid):
    """poly x poly overlay on a WKB-ified grid returns exactly the grid
    path's pieces (same clip kernel reached through the general plan)."""
    left = _rects_as_polys(spark, grid, "left_id")
    polys = PG.synthetic_polygons(spark, n=6, bbox=BBOX, seed=11).withColumnRenamed(
        "poly_id", "right_id"
    )
    gen = OV.polygon_overlay_pieces(left, polys, ["pop"])
    ref = OV.grid_overlay_polygons(
        grid, polys.withColumnRenamed("right_id", "poly_id"), ["pop"], rule=None
    )
    a = {(r["left_id"], r["right_id"]): r["piece_area"] for r in gen.collect()}
    b = {(r["cell_id"], r["poly_id"]): r["piece_area"] for r in ref.collect()}
    assert set(a) == set(b) and len(a) > 0
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-9), k


def test_polygon_overlay_pieces_nonrect_vs_quadtree(spark):
    """Non-rect x non-rect pairs: fragment-summed piece areas agree with
    the quadtree-refined intersection_area bounds (the round-2 A13 oracle
    machinery) pair by pair."""
    la = PG.synthetic_polygons(spark, n=4, bbox=(0, 0, 1000.0, 1000.0), seed=21,
                               with_hole=False, with_multi=False).withColumnRenamed("poly_id", "left_id")
    rb = PG.synthetic_polygons(spark, n=4, bbox=(0, 0, 1000.0, 1000.0), seed=22,
                               with_hole=False, with_multi=False).withColumnRenamed("poly_id", "right_id")
    out = OV.polygon_overlay_pieces(la, rb, ["pop"], emit_wkb=True).collect()
    assert len(out) > 0
    ga = {r["left_id"]: wkb.decode_multipolygon(bytes(r["geometry"])) for r in la.collect()}
    gb = {r["right_id"]: wkb.decode_multipolygon(bytes(r["geometry"])) for r in rb.collect()}
    for r in out:
        want = G.intersection_area([ga[r["left_id"]], gb[r["right_id"]]], tol=1e-6)
        assert r["piece_area"] == pytest.approx(want, rel=1e-4, abs=1e-3), (
            r["left_id"], r["right_id"])
        # emitted piece geometry carries exactly the piece area
        mp = wkb.decode_multipolygon(bytes(r["geometry"]))
        assert G.multipolygon_area(mp) == pytest.approx(r["piece_area"], rel=1e-12)
    # completeness: every overlapping pair (per quadtree area) is present
    got_pairs = {(r["left_id"], r["right_id"]) for r in out}
    for i, ma in ga.items():
        for j, mb in gb.items():
            if G.intersection_area([ma, mb], tol=1e-6) > 1.0:
                assert (i, j) in got_pairs


def test_polygon_overlay_pieces_concave_and_holes(spark):
    """Concave (ear-clipped) right side + holey left side: closed-form
    checks. L = [0,2]x[0,1] ∪ [0,1]x[1,2]; subject square-with-hole."""
    import numpy as np
    import pandas as pd

    L = [np.array([[0.0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]])]
    holey = [
        np.array([[0.0, 0], [4, 0], [4, 4], [0, 4]]),
        np.array([[1.0, 1], [1, 3], [3, 3], [3, 1]]),  # CW hole
    ]
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [0], "geometry": [wkb.encode_multipolygon([holey])]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"right_id": [0], "geometry": [wkb.encode_multipolygon([L])]})
    )
    out = OV.polygon_overlay_pieces(left, right, emit_wkb=True).collect()
    assert len(out) == 1
    # L area 3; hole misses L entirely -> piece = 3; pct = 3/3 = 1
    assert out[0]["piece_area"] == pytest.approx(3.0, rel=1e-12)
    assert out[0]["area_pct"] == pytest.approx(1.0, rel=1e-12)
    mp = wkb.decode_multipolygon(bytes(out[0]["geometry"]))
    assert G.multipolygon_area(mp) == pytest.approx(3.0, rel=1e-12)
    # same key name on both sides is an explicit error
    with pytest.raises(ValueError, match="must differ"):
        OV.polygon_overlay_pieces(
            left, right.withColumnRenamed("right_id", "left_id"),
            left_key="left_id", right_key="left_id",
        )


def test_polygon_overlay_pieces_union_full(spark):
    """how='union_full' on the general overlay: unmatched polygons of BOTH
    layers survive with null keys and their original geometry (reference
    HOWS=['intersection','union'] parity for overlay_polygon)."""
    import pandas as pd

    mk = lambda key, vals: spark.createDataFrame(  # noqa: E731
        pd.DataFrame(
            {
                key: [v[0] for v in vals],
                "geometry": [wkb.encode_box(*v[1]) if v[1] else None for v in vals],
            }
        ),
        f"{key} long, geometry binary",
    )
    # a NULL geometry covers nothing: it comes back unmatched
    left = mk("left_id", [(0, (0.0, 0.0, 2.0, 2.0)), (1, (10.0, 10.0, 12.0, 12.0)), (2, None)])
    right = mk("right_id", [(0, (1.0, 1.0, 3.0, 3.0)), (1, (20.0, 20.0, 22.0, 22.0))])
    out = OV.polygon_overlay_pieces(left, right, how="union_full", emit_wkb=True).collect()
    by = {(r["left_id"], r["right_id"]): r for r in out}
    assert set(by) == {(0, 0), (1, None), (2, None), (None, 1)}
    assert by[(2, None)]["geometry"] is None and by[(2, None)]["piece_area"] is None
    assert by[(0, 0)]["piece_area"] == pytest.approx(1.0)
    # unmatched rows carry original geometry, null areas
    un_l = by[(1, None)]
    assert un_l["piece_area"] is None
    mp = wkb.decode_multipolygon(bytes(un_l["geometry"]))
    assert G.multipolygon_area(mp) == pytest.approx(4.0)
    un_r = by[(None, 1)]
    assert G.multipolygon_area(wkb.decode_multipolygon(bytes(un_r["geometry"]))) == pytest.approx(4.0)
    with pytest.raises(ValueError, match="how must be"):
        OV.polygon_overlay_pieces(left, right, how="bogus")


def test_polygon_overlay_pieces_dissolve(spark):
    """dissolve=True removes triangulation seams from concave-clip piece
    WKB: same area, fewer polygons (the L test dissolves to one ring)."""
    import pandas as pd

    L = [np.array([[0.0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]])]
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [0], "geometry": [wkb.encode_box(0.0, 0.0, 2.0, 2.0)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"right_id": [0], "geometry": [wkb.encode_multipolygon([L])]})
    )
    frag = OV.polygon_overlay_pieces(left, right, emit_wkb=True).collect()[0]
    diss = OV.polygon_overlay_pieces(left, right, emit_wkb=True, dissolve=True).collect()[0]
    mp_f = wkb.decode_multipolygon(bytes(frag["geometry"]))
    mp_d = wkb.decode_multipolygon(bytes(diss["geometry"]))
    ring = mp_d[0][0]
    # WKB stores rings closed: 6 distinct vertices + the closing duplicate
    assert len(mp_f) > 1 and len(mp_d) == 1 and len(ring) == 7
    assert (ring[0] == ring[-1]).all()
    assert frag["piece_area"] == pytest.approx(diss["piece_area"], rel=1e-12)
    assert G.multipolygon_area(mp_d) == pytest.approx(diss["piece_area"], rel=1e-12)


def test_dissolve_pieces_operator(spark):
    """Distributed per-group dissolve: rect overlay pieces reconstruct
    each source polygon exactly (strict mode — a silent fallback fails),
    and a concave multi-group input dissolves per group."""
    import pandas as pd

    from pygridmap_spark.sources import polygons as PGx

    base = PGx.grid_layer(spark, (0.0, 0.0, 20_000.0, 20_000.0), (5_000.0, 5_000.0))
    offset = PGx.grid_layer(
        spark, (2_500.0, 2_500.0, 17_500.0, 17_500.0), (5_000.0, 5_000.0)
    ).drop("val")
    pieces = OV.grid_overlay_rects(offset, base, [], rule=None, emit_wkb=True)
    out = {r.cell_id: r for r in OV.dissolve_pieces(pieces, "cell_id", strict=True).collect()}
    assert len(out) == 9
    for cid, r in out.items():
        mp = wkb.decode_multipolygon(bytes(r.geometry))
        assert r.n_pieces == 4 and len(mp) == 1 and len(mp[0]) == 1
        ring = mp[0][0]
        closed = (ring[0] == ring[-1]).all()
        assert len(ring) - (1 if closed else 0) == 4  # seam vertices gone
        assert r.area == pytest.approx(25_000_000.0, rel=1e-12)
    # two concave-fragment groups in one frame
    L = [np.array([[0.0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]])]
    frags = G.intersect_polygons([np.array([[0.0, 0], [2, 0], [2, 2], [0, 2]])], L)
    rows = [(g, wkb.encode_multipolygon([p])) for g in (1, 2) for p in frags]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["gid", "geometry"]))
    got = {r.gid: r for r in OV.dissolve_pieces(df, "gid", strict=True).collect()}
    for g in (1, 2):
        assert got[g].n_pieces == len(frags)
        assert got[g].area == pytest.approx(G.multipolygon_area(frags), rel=1e-12)
        assert len(wkb.decode_multipolygon(bytes(got[g].geometry))) == 1


def test_dissolve_pieces_null_geometry(spark):
    import pandas as pd

    rows = [
        (1, wkb.encode_box(0.0, 0.0, 1.0, 1.0)),
        (1, wkb.encode_box(1.0, 0.0, 2.0, 1.0)),
        (1, None),  # NULL contributes nothing (and must not crash)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["gid", "geometry"]))
    got = OV.dissolve_pieces(df, "gid", strict=True).collect()[0]
    assert got.n_pieces == 2 and got.area == pytest.approx(2.0)


def test_union_exact_geoms_general_shapes(spark):
    """Per-group general exact union: overlapping triangles (non-rect, the
    case dissolve_pieces cannot take) union to closed-form areas; holed
    inputs keep their uncovered hole."""
    import numpy as np

    from pygridmap_spark.core import wkb as WKB

    t1 = WKB.encode_polygon([[(0.0, 0.0), (4.0, 0.0), (2.0, 3.0)]])
    t2 = WKB.encode_polygon([[(2.0, 0.0), (6.0, 0.0), (4.0, 3.0)]])
    holed = WKB.encode_polygon(
        [
            [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
            [(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0)],
        ]
    )
    plug = WKB.encode_polygon([[(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]])
    df = spark.createDataFrame(
        [(1, t1), (1, t2), (2, holed), (2, plug)], "gid long, geometry binary"
    )
    got = {
        r.gid: r for r in OV.union_exact_geoms(df, group_col="gid").collect()
    }
    assert got[1].n_geoms == 2 and got[1].n_polys == 1
    assert got[1].area == pytest.approx(10.5, abs=1e-9)  # 6 + 6 - 1.5
    assert got[2].n_geoms == 2 and got[2].n_polys == 2  # plug floats in hole
    assert got[2].area == pytest.approx(88.0, abs=1e-9)  # 100 - 16 + 4
    # round-trip: output WKB decodes to the exact union (hole preserved)
    from pygridmap_spark.core import geometry as G

    mp = WKB.decode_multipolygon(bytes(got[2].geometry))
    assert sorted(len(p) for p in mp) == [1, 2]


def test_union_exact_distributed_matches_local_kernel(spark):
    """Whole-layer distributed exact union: per-tile areas sum EXACTLY to
    the local-kernel union area (tiles partition the plane), membership
    matches, and a polygon spanning many tiles ships only its clipped
    pieces through the tile exchange."""
    import numpy as np

    from pygridmap_spark.core import geometry as G
    from pygridmap_spark.core import wkb as WKB

    rng = np.random.default_rng(17)
    rows, local = [], []
    for pid in range(60):
        n = 7
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(50.0, 400.0, n)
        cx, cy = rng.uniform(0, 3000.0, 2)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        rows.append((pid, WKB.encode_polygon([ring])))
        local.append([[ring]])
    # one mega rect spanning many tiles
    mega = np.array([[-500.0, -500.0], [3500.0, -500.0], [3500.0, 200.0], [-500.0, 200.0]])
    rows.append((999, WKB.encode_polygon([mega])))
    local.append([[mega]])
    df = spark.createDataFrame(rows, "poly_id long, geometry binary")
    out = OV.union_exact_distributed(df, cell=1000.0).collect()
    got_area = sum(r.area for r in out)
    want_area = G.multipolygon_area(G.union_exact(local))
    assert got_area == pytest.approx(want_area, rel=1e-9)
    # membership parity on probes: union of all tile pieces == local union
    pieces = []
    for r in out:
        pieces.extend(WKB.decode_multipolygon(bytes(r.geometry)))
    px = rng.uniform(-600, 3600, 300)
    py = rng.uniform(-600, 3600, 300)
    want = G.points_in_union(px, py, local)
    got = G.points_in_multipolygon(px, py, pieces)
    # points on tile-boundary seams could differ; none of the 300 random
    # probes lies on an exact tile line
    assert np.array_equal(want, got)
    # every tile row's geometry stays inside its tile
    for r in out:
        mp = WKB.decode_multipolygon(bytes(r.geometry))
        x0, y0 = r.tile_x * 1000.0, r.tile_y * 1000.0
        bx = G.multipolygon_bbox(mp)
        assert bx[0] >= x0 - 1e-9 and bx[2] <= x0 + 1000.0 + 1e-9
        assert bx[1] >= y0 - 1e-9 and bx[3] <= y0 + 1000.0 + 1e-9


def test_union_exact_distributed_rect_fixture_exact(spark):
    """Dyadic rect fixture: distributed per-tile union area equals the
    closed-form union area EXACTLY (no tolerance)."""
    from pygridmap_spark.core import wkb as WKB

    def rect(pid, x0, y0, x1, y1):
        return (pid, WKB.encode_polygon([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]))

    # two overlapping rects + one duplicate + one disjoint, spanning tiles
    rows = [
        rect(1, 0.0, 0.0, 1536.0, 1024.0),
        rect(2, 1024.0, 512.0, 2560.0, 1536.0),
        rect(3, 0.0, 0.0, 1536.0, 1024.0),
        rect(4, 4096.0, 4096.0, 4608.0, 4352.0),
        (5, None),  # a NULL geometry covers nothing
    ]
    df = spark.createDataFrame(rows, "poly_id long, geometry binary")
    out = OV.union_exact_distributed(df, cell=1024.0)
    got = out.agg(F.sum("area")).collect()[0][0]
    want = 1536.0 * 1024.0 + 1536.0 * 1024.0 - 512.0 * 512.0 + 512.0 * 256.0
    assert got == want  # dyadic: bit-exact


def test_union_exact_distributed_sliver_tile_is_clipped(spark):
    """A polygon that leaves 5e-5 of a 1e6 tile uncovered is ALL_IN to the
    classifier (tolerance 1e-9 tile areas), yet its tile row must carry
    the clipped outline and area, not the square. Tiles another polygon
    covers with no edge in them are whole squares."""
    from pygridmap_spark.operators import gridding as GR

    notched = [[(0.0, 0.0), (500.0, 1e-7), (1000.0, 0.0), (1000.0, 1000.0), (0.0, 1000.0)]]
    mp = wkb.decode_multipolygon(wkb.encode_polygon(notched))
    cls = GR.classify_blocks([mp], (0.0, 0.0), (1000.0, 1000.0), [(0, 0, 1, 1)])["__cls__"]
    assert list(cls) == [GR.ALL_IN]
    df = spark.createDataFrame(
        [(1, wkb.encode_polygon(notched)), (2, wkb.encode_box(1900.0, -100.0, 4100.0, 1100.0))],
        "poly_id long, geometry binary",
    )
    out = {(r.tile_x, r.tile_y): r for r in OV.union_exact_distributed(df, cell=1000.0).collect()}
    sliver = out[(0, 0)]
    assert sliver.n_inputs == 1
    assert sliver.area < 1e6 and sliver.area == pytest.approx(1e6 - 5e-5, rel=1e-13)
    ring = wkb.decode_multipolygon(bytes(sliver.geometry))[0][0]
    assert any((ring == [500.0, 1e-7]).all(axis=1))
    for t in ((2, 0), (3, 0)):
        assert out[t].n_inputs == 1 and out[t].area == 1e6


@pytest.mark.parametrize(
    "call",
    [
        lambda a, b: OV.polygon_overlay_pieces(a, b, cell=0.0),
        lambda a, b: OV.polygon_overlay_pieces(a, b, cell=-1.0),
        lambda a, b: OV.polygon_overlay_pieces(a, b, cell=float("nan")),
        lambda a, b: OV.polygon_overlay_pieces(a, b, cell=float("inf")),
        lambda a, b: OV.union_exact_distributed(b, cell=0.0, poly_key="right_id"),
        lambda a, b: OV.union_exact_distributed(b, cell=-1.0, poly_key="right_id"),
        lambda a, b: OV.union_exact_distributed(b, cell=float("nan"), poly_key="right_id"),
        lambda a, b: OV.union_exact_distributed(b, cell=float("inf"), poly_key="right_id"),
        lambda a, b: OV.union_exact_distributed(b, cell=1.0, x0=float("nan"), poly_key="right_id"),
        lambda a, b: OV.union_exact_distributed(b, cell=1.0, y0=float("-inf"), poly_key="right_id"),
    ],
)
def test_index_lattice_rejects_bad_arguments(spark, call):
    """A non-finite or non-positive cell, or a non-finite origin, raises
    when the operator is called: it used to give an empty frame (union of
    a 2x2 square at cell=-1 or nan) or fail at action time (cell=0)."""
    left = spark.createDataFrame([(0, wkb.encode_box(0.0, 0.0, 2.0, 2.0))], "left_id long, geometry binary")
    right = spark.createDataFrame([(0, wkb.encode_box(0.0, 0.0, 2.0, 2.0))], "right_id long, geometry binary")
    with pytest.raises(ValueError, match="must be finite"):
        call(left, right)


def test_polygon_overlay_pieces_derived_cell_skips_null(spark):
    """cell=None averages the bbox spans of the non-empty right rows: a
    NULL row neither counts nor fails, and a layer with no non-empty row
    raises."""
    left = spark.createDataFrame([(0, wkb.encode_box(1.0, 1.0, 3.0, 3.0))], "left_id long, geometry binary")
    right = spark.createDataFrame(
        [(0, wkb.encode_box(0.0, 0.0, 2.0, 2.0)), (1, None)], "right_id long, geometry binary"
    )
    out = OV.polygon_overlay_pieces(left, right).collect()
    assert [(r.left_id, r.right_id, r.piece_area) for r in out] == [(0, 0, 1.0)]
    with pytest.raises(ValueError, match="empty right layer"):
        OV.polygon_overlay_pieces(left, right.filter(F.col("right_id") == 1))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_polygon_overlay_pieces_matches_all_pairs(spark, seed):
    """Completeness and areas against an all-pairs loop over the kernel:
    seeded layers with a hole and multiparts, plus a pair that overlaps by
    1e-4, far below 1e-9 index-cell areas. Every pair of positive area
    comes back with the kernel's own area, and no other pair."""
    extra = lambda key, box: spark.createDataFrame(  # noqa: E731
        [(100, wkb.encode_box(*box))], f"{key} long, geometry binary"
    )
    left = PG.synthetic_polygons(spark, n=10, bbox=BBOX, seed=seed).select(
        F.col("poly_id").alias("left_id"), "geometry"
    ).unionByName(extra("left_id", (300_000.0, 300_000.0, 301_000.0, 301_000.0)))
    right = PG.synthetic_polygons(spark, n=10, bbox=BBOX, seed=seed + 10, with_hole=False).select(
        F.col("poly_id").alias("right_id"), "geometry"
    ).unionByName(extra("right_id", (301_000.0 - 1e-7, 300_000.0, 302_000.0, 301_000.0)))
    ga = {r[0]: wkb.decode_multipolygon(bytes(r[1])) for r in left.collect()}
    gb = {r[0]: wkb.decode_multipolygon(bytes(r[1])) for r in right.collect()}
    want = set()
    for i, a in ga.items():
        for j, b in gb.items():
            area = G.multipolygon_area(G.intersect_multipolygons(a, b))
            if area > 0:
                want.add((i, j, area))
    spans = np.array([G.multipolygon_bbox(b) for b in gb.values()])
    cell = max((spans[:, 2] - spans[:, 0]).mean(), (spans[:, 3] - spans[:, 1]).mean())
    sliver = {a for i, j, a in want if (i, j) == (100, 100)}
    assert len(sliver) == 1 and sliver.pop() < 1e-9 * cell**2
    got = {(r.left_id, r.right_id, r.piece_area) for r in OV.polygon_overlay_pieces(left, right).collect()}
    assert got == want


def test_union_exact_distributed_plan_shape(spark):
    """The cover pass decodes and clips each polygon where it lives: the
    optimized plan joins nothing and runs one MapInPandas before the
    grouped union's own."""
    df = spark.createDataFrame(
        [(1, wkb.encode_box(0.0, 0.0, 1536.0, 1024.0)), (2, wkb.encode_box(1024.0, 512.0, 2560.0, 1536.0))],
        "poly_id long, geometry binary",
    )
    plan = OV.union_exact_distributed(df, cell=1024.0)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 2, plan


def test_dissolve_pieces_hierarchical_matches_flat(spark):
    """Two-level dissolve (presplit_col) == flat dissolve: same area
    (exact), same topology, same vertex set — the hot-group tail spread
    over blocks without changing the result."""
    import numpy as np

    from pygridmap_spark.core import geometry as G
    from pygridmap_spark.core import wkb as WKB

    # one hot polygon: a 40x40-cell rect + a diamond, overlaid on a grid
    grid = PG.grid_layer(spark, bbox=(0.0, 0.0, 50_000.0, 50_000.0), cell=(1000.0, 1000.0))
    mega = WKB.encode_polygon(
        [[(3_500.0, 3_500.0), (43_500.0, 3_500.0), (43_500.0, 43_500.0), (3_500.0, 43_500.0)]]
    )
    diamond = WKB.encode_polygon(
        [[(10_000.0, 25_000.0), (25_000.0, 10_000.0), (40_000.0, 25_000.0), (25_000.0, 40_000.0)]]
    )
    polys = spark.createDataFrame(
        [(1, mega), (2, diamond)], "poly_id long, geometry binary"
    )
    pieces = OV.grid_overlay_polygons(grid, polys, [], rule=None, emit_wkb=True)
    # coarse 8x8-cell blocks from the piece's cell id (grid is 50 wide)
    pieces = pieces.withColumn(
        "block",
        (F.col("cell_id") % 50 / 8).cast("long") * 100
        + (F.col("cell_id") / 50 / 8).cast("long"),
    )
    flat = {r.poly_id: r for r in OV.dissolve_pieces(pieces, strict=True).collect()}
    hier = {
        r.poly_id: r
        for r in OV.dissolve_pieces(pieces, strict=True, presplit_col="block").collect()
    }
    assert set(flat) == set(hier) == {1, 2}
    for pid in flat:
        f, h = flat[pid], hier[pid]
        assert f.n_pieces == h.n_pieces
        assert f.area == h.area  # bit-exact: same cancelled edge multiset
        fm = WKB.decode_multipolygon(bytes(f.geometry))
        hm = WKB.decode_multipolygon(bytes(h.geometry))
        assert len(fm) == len(hm)
        # compare vertex SETS (ring starting points — and hence which
        # closing vertex is duplicated — are traversal-order artifacts)
        fv = {tuple(v) for p in fm for r in p for v in r}
        hv = {tuple(v) for p in hm for r in p for v in r}
        assert fv == hv
    # the mega rect dissolves to exactly its own outline either way
    assert flat[1].area == 40_000.0 * 40_000.0


def test_dissolve_pieces_hierarchical_single_block_group(spark):
    """A group whose pieces all land in ONE presplit block must still come
    out identical to flat mode (the level-2 dissolve early-returns for a
    single input, so the collinear cleanup must run explicitly)."""
    from pygridmap_spark.core import wkb as WKB

    grid = PG.grid_layer(spark, bbox=(0.0, 0.0, 10_000.0, 10_000.0), cell=(1000.0, 1000.0))
    small = WKB.encode_polygon(
        [[(1_200.0, 1_200.0), (3_800.0, 1_200.0), (3_800.0, 3_800.0), (1_200.0, 3_800.0)]]
    )
    polys = spark.createDataFrame([(1, small)], "poly_id long, geometry binary")
    pieces = OV.grid_overlay_polygons(grid, polys, [], rule=None, emit_wkb=True).withColumn("block", F.lit(0))
    flat = OV.dissolve_pieces(pieces, strict=True).collect()[0]
    hier = OV.dissolve_pieces(pieces, strict=True, presplit_col="block").collect()[0]
    assert flat.area == hier.area
    fm = WKB.decode_multipolygon(bytes(flat.geometry))
    hm = WKB.decode_multipolygon(bytes(hier.geometry))
    # the dissolved small rect is a clean 4-corner outline in BOTH modes
    assert len(fm) == len(hm) == 1
    assert len(fm[0][0]) == len(hm[0][0]), (len(fm[0][0]), len(hm[0][0]))
    assert {tuple(v) for v in fm[0][0]} == {tuple(v) for v in hm[0][0]}
