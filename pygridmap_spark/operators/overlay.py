"""GridOverlay + area_interpolate — grid x polygon overlay and weighted
areal interpolation (SURVEY §2.8, reference overlay.py:433-605).

Semantics (parity targets, re-derived):
- piece area  = area(cell ∩ polygon)                    (overlay.py:326-331)
- area_pct    = piece_area / original polygon area       (overlay.py:332-335)
- rule 'sum'  = per cell: sum(attr * area_pct)           (overlay.py:345-354)
- rule 'max'/'min' = attrs of the most/least overlapping polygon
                                                        (overlay.py:340-360)
- rule 'list' / cover = collect polygon ids per cell     (overlay.py:312-323)
- merge-back onto the grid = equi-join on the cell id    (overlay.py:369-374)

Two physical paths, chosen by the shape of the right side:

1. **rect x rect** (`grid_overlay_rects`): when the "polygon" layer is
   itself a regular grid (the reference's own unit-test situation —
   tests/overlay.ipynb cells 26-32 overlay grids with grids), the piece
   area is closed-form rectangle intersection. The candidate join is an
   equi-join on the coarse cell key both sides can compute — pure Catalyst,
   fully codegen, shuffle-on-key; survives any scale. This path is also
   DuckDB-oracle-checkable, which is how the driver verifies the engine.

2. **rect x WKB polygons** (`grid_overlay_polygons`): irregular vector
   layers (NUTS-3-style), never collected to the driver. One Arrow pass
   runs the quadtree cell classifier over each polygon's bbox block on the
   grid's lattice (the cell grid IS the spatial index — replaces the
   reference's R-tree, overlay.py:257-260): interior blocks expand to
   whole-cell pieces in the JVM, boundary cells carry their covered area
   (the rect-coverage kernel, within rounding of the exact clip), and the
   pieces, keyed on the lattice, join the grid once.

Path 2 takes the grid's lattice (origin, cell size) from the record
``gridding.grid_maker`` attaches to the corner column (``x`` once the
caller renames ``__x__``), so a ``grid_maker`` grid costs no job before the
caller's action; layers without a record fall back to one min/max job
(``_grid_meta``). Path 1 always runs that job: it keys the right layer by
its largest cell, and a layer's cells may differ in size (a union of two
grids carries only the first one's record).
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pygridmap_spark import util as _util

from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import gridding as GR

RULES = ("sum", "max", "min", "list", None)


def _check_emit_wkb(emit_wkb: bool, rule) -> None:
    if emit_wkb and rule is not None:
        raise ValueError(
            "emit_wkb=True returns the raw piece rows with their clipped "
            "geometry (reference overlay.py:296-297 parity) — rules "
            "aggregate pieces away, so use rule=None"
        )


def crop_grid(
    cells: DataFrame,
    bbox: Sequence[float] | None = None,
    tile: int | None = None,
    cell_range: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """V1 (overlay.py:187-241): subset the grid to a tile — by explicit
    tile-column value, integer cell-index range, or bbox predicate. All
    three are plain filters, so on a tile-partitioned table they become
    partition pruning; there is no index-reset (__gridx__) dependence —
    cell_id is stable."""
    out = cells
    if tile is not None:
        out = out.filter(F.col("__tile__") == tile)
    if cell_range is not None:
        x0, y0, x1, y1 = cell_range
        out = out.filter(
            (F.col("cell_x") >= x0)
            & (F.col("cell_x") < x1)
            & (F.col("cell_y") >= y0)
            & (F.col("cell_y") < y1)
        )
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        # accept both the overlay convention (x/y) and GridMaker output
        # (__x__/__y__)
        xcol = "x" if "x" in out.columns else "__x__"
        ycol = "y" if "y" in out.columns else "__y__"
        out = out.filter(
            (F.col(xcol) < xmax)
            & (F.col("xmax") > xmin)
            & (F.col(ycol) < ymax)
            & (F.col("ymax") > ymin)
        )
    return out


def _apply_rule(
    pieces: DataFrame,
    grid: DataFrame,
    columns: Sequence[str],
    rule: str | None,
    cover: bool,
    area: bool,
    keys: Sequence[str] = ("cell_id",),
    poly_key: str = "poly_id",
) -> DataFrame:
    """Shared rule aggregation on the cell ``keys`` + merge-back (A2-A4 + J7/J8)."""
    keys = list(keys)
    if rule is None:
        return pieces  # raw overlay rows: keys, poly_key, piece_area, area_pct, attrs
    # drop stale attribute columns from the grid before the merge-back, the
    # reference's V4 pre-drop (overlay.py:377-383) — avoids name collisions
    stale = [c for c in (*columns, "piece_area", "area_pct", "__cover__") if c in grid.columns]
    grid = grid.drop(*stale)
    aggs = [F.count(F.lit(1)).alias("__n_pieces__")]
    if rule == "sum":
        aggs += [
            F.sum(F.col(c) * F.col("area_pct")).alias(c) for c in columns
        ]
    elif rule in ("max", "min"):
        order = (
            F.col("area_pct").desc() if rule == "max" else F.col("area_pct").asc()
        )
        w = Window.partitionBy(*keys).orderBy(order, F.col(poly_key).asc())
        ranked = pieces.withColumn("__rn__", F.row_number().over(w)).filter(
            F.col("__rn__") == 1
        )
        keep = [*keys, *columns]
        if area:
            keep += ["piece_area", "area_pct"]
        sel = ranked.select(*keep).withColumn("__n_pieces__", F.lit(1).cast("long"))
        if cover:
            # max/min keep one representative row, but cover lists ALL
            # intersecting polygons — aggregate it separately and merge
            cov = pieces.groupBy(*keys).agg(
                F.sort_array(F.collect_list(poly_key)).alias("__cover__")
            )
            sel = sel.join(cov, keys, "left")
        return grid.join(sel, keys, "left")
    elif rule == "list":
        aggs += [F.sort_array(F.collect_list(poly_key)).alias("__cover__")]
    if cover and rule != "list":
        aggs.append(F.sort_array(F.collect_list(poly_key)).alias("__cover__"))
    if area:
        aggs += [
            F.sum("piece_area").alias("piece_area"),
            F.sum("area_pct").alias("area_pct"),
        ]
    agg = pieces.groupBy(*keys).agg(*aggs)
    return grid.join(agg, keys, "left")


def _grid_meta(
    df: DataFrame, what: str, uniform: bool = False
) -> tuple[float, float, float, float]:
    """(x0, y0, max cell width, max cell height) of a rect layer without a
    lattice record — one tiny driver job for plan constants. Raises on an
    empty layer instead of the opaque ``max(None, None)`` TypeError
    downstream, and, with ``uniform``, on cells of more than one size
    (relative 1e-9), which no lattice has."""
    w, h = F.col("xmax") - F.col("x"), F.col("ymax") - F.col("y")
    row = df.agg(
        F.min("x").alias("x0"),
        F.min("y").alias("y0"),
        F.max(w).alias("w"),
        F.max(h).alias("h"),
        F.min(w).alias("w_min"),
        F.min(h).alias("h_min"),
    ).collect()[0]
    if row["x0"] is None or row["w"] is None:
        raise ValueError(f"empty {what} layer: cannot derive grid geometry")
    if uniform and min(row["w_min"] / row["w"], row["h_min"] / row["h"]) < 1 - 1e-9:
        raise ValueError(
            f"{what} are not one lattice: widths {row['w_min']}..{row['w']}, "
            f"heights {row['h_min']}..{row['h']}"
        )
    return row["x0"], row["y0"], row["w"], row["h"]


def _check_on_lattice(keyed: DataFrame, rec: dict, ix: str, iy: str) -> DataFrame:
    """Fail the action (``raise_error``) on a cell whose width, height or
    corner contradicts the lattice record by more than 1e-9 of the cell:
    interior pieces take the lattice cell's area, so a cut or shifted cell
    must not pass. Cells outside the record's shape (a union of adjacent
    grids on one lattice) are on the lattice and pass. The check rides the
    key column ``ix``, which every cell carries into the join."""
    x0, y0, w, h = rec["x0"], rec["y0"], rec["width"], rec["height"]
    ok = (
        (F.abs(F.col("xmax") - F.col("x") - w) <= 1e-9 * w)
        & (F.abs(F.col("ymax") - F.col("y") - h) <= 1e-9 * h)
        & (F.abs(F.col("x") - (F.col(ix) * w + x0)) <= 1e-9 * w)
        & (F.abs(F.col("y") - (F.col(iy) * h + y0)) <= 1e-9 * h)
    )
    lattice = ", ".join(f"{k}={rec[k]!r}" for k in ("x0", "y0", "width", "height"))
    msg = f"grid cells are not on their lattice ({lattice}): a cell's size or corner contradicts it"
    return keyed.withColumn(ix, F.when(ok, F.col(ix)).otherwise(F.raise_error(F.lit(msg))))


# ---------------------------------------------------------------------------
# path 1: rect x rect (grid x grid) — pure Catalyst
# ---------------------------------------------------------------------------


def grid_overlay_rects(
    cells: DataFrame,
    other: DataFrame,
    columns: Sequence[str],
    rule: str | None = "sum",
    cover: bool = False,
    area: bool = False,
    how: str = "intersection",
    emit_wkb: bool = False,
) -> DataFrame:
    """Overlay two rectangle layers. Both sides need
    (cell_id|poly_id, x, y, xmax, ymax); ``other`` carries the attribute
    ``columns``. ``how='union'`` keeps non-intersecting cells of the left
    side (reference 'union' semantics on the grid side: full outer on the
    grid — non-matching cells get null attrs, matching the reference's
    keep_geom_type'd union restricted to the grid frame).

    Plan: equi-join on the coarse candidate key (each left rect explodes to
    the 1..4 coarse cells of the right grid it can touch — computed from the
    right grid's own geometry), then closed-form rectangle intersection.
    No UDF, no broadcastability requirement on either side.

    ``emit_wkb=True`` (rule=None only) adds a ``geometry`` WKB column with
    the actual intersection rectangle of each piece — the reference's
    overlay output carries the gpd.overlay piece geometries
    (overlay.py:296-297); without this flag there is nothing to *map*.
    """
    _check_how(how, rule)
    _check_emit_wkb(emit_wkb, rule)
    bx0, by0, bw, bh = _grid_meta(other, "other (right) grid")
    eps = 1e-9 * max(bw, bh)

    left = cells.select(
        F.col("cell_id"),
        F.col("x").alias("_ax"),
        F.col("y").alias("_ay"),
        F.col("xmax").alias("_axm"),
        F.col("ymax").alias("_aym"),
    )
    # candidate right-grid index ranges per left rect (half-open upper edge)
    lo_x = F.floor((F.col("_ax") - F.lit(bx0)) / F.lit(bw)).cast("long")
    hi_x = F.floor((F.col("_axm") - F.lit(eps) - F.lit(bx0)) / F.lit(bw)).cast("long")
    lo_y = F.floor((F.col("_ay") - F.lit(by0)) / F.lit(bh)).cast("long")
    hi_y = F.floor((F.col("_aym") - F.lit(eps) - F.lit(by0)) / F.lit(bh)).cast("long")
    cand = left.withColumn("_bix", F.explode(F.sequence(lo_x, hi_x))).withColumn(
        "_biy", F.explode(F.sequence(lo_y, hi_y))
    )

    right = other.select(
        F.col("poly_id") if "poly_id" in other.columns else F.col("cell_id").alias("poly_id"),
        F.floor((F.col("x") - F.lit(bx0)) / F.lit(bw)).cast("long").alias("_bix"),
        F.floor((F.col("y") - F.lit(by0)) / F.lit(bh)).cast("long").alias("_biy"),
        F.col("x").alias("_bx"),
        F.col("y").alias("_by"),
        F.col("xmax").alias("_bxm"),
        F.col("ymax").alias("_bym"),
        ((F.col("xmax") - F.col("x")) * (F.col("ymax") - F.col("y"))).alias("_barea"),
        *columns,
    )

    joined = cand.join(right, ["_bix", "_biy"])
    w = F.least("_axm", "_bxm") - F.greatest("_ax", "_bx")
    h = F.least("_aym", "_bym") - F.greatest("_ay", "_by")
    piece = (F.greatest(w, F.lit(0.0)) * F.greatest(h, F.lit(0.0))).alias("piece_area")
    extra = []
    if emit_wkb:
        # piece corners are closed-form; only the byte encoding needs Python
        # (Arrow-batched), and only when the caller asked for geometry
        extra = [
            _util.box_wkb_udf()(
                F.greatest("_ax", "_bx"),
                F.greatest("_ay", "_by"),
                F.least("_axm", "_bxm"),
                F.least("_aym", "_bym"),
            ).alias("geometry")
        ]
    pieces = (
        joined.withColumn("piece_area", piece)
        .filter(F.col("piece_area") > 0)
        .withColumn(
            "area_pct",
            F.when(F.col("_barea") > 0, F.col("piece_area") / F.col("_barea")),
        )
        .select("cell_id", "poly_id", "piece_area", "area_pct", *columns, *extra)
    )
    if rule is None:
        if how == "union_full":
            polys = other.select(
                (
                    F.col("poly_id")
                    if "poly_id" in other.columns
                    else F.col("cell_id").alias("poly_id")
                ),
                *columns,
                *(
                    [_util.box_wkb_udf()("x", "y", "xmax", "ymax").alias("geometry")]
                    if emit_wkb
                    else []
                ),
            )
            return _union_full_pieces(pieces, cells, polys, columns, emit_wkb=emit_wkb)
        return pieces
    out = _apply_rule(pieces, cells, columns, rule, cover, area)
    # inner semantics drop grid cells with no overlap (union keeps them
    # with null attrs — reference 'union' restricted to the grid frame)
    return _drop_unmatched(out) if how == "intersection" else out.drop("__n_pieces__")


HOWS = ("intersection", "union", "union_full")


def _check_how(how: str, rule) -> None:
    if how not in HOWS:
        raise ValueError(f"how must be one of {HOWS}, got {how!r}")
    if how == "union_full" and rule is not None:
        raise ValueError(
            "how='union_full' returns raw pieces of BOTH layers (unmatched "
            "polygons have no cell to aggregate onto) — use rule=None"
        )


def _union_full_pieces(
    pieces: DataFrame,
    cells: DataFrame,
    polys: DataFrame,
    columns,
    poly_key: str = "poly_id",
    emit_wkb: bool = False,
) -> DataFrame:
    """Full planar-union parity (reference gpd.overlay(how='union'),
    overlay.py:296-297): the intersection pieces PLUS unmatched grid cells
    (null polygon key/attrs) PLUS unmatched polygons (null cell_id).
    ``polys`` must carry (poly_key, *columns) — plus a ``geometry`` WKB
    column when ``emit_wkb`` (unmatched pieces keep their ORIGINAL geometry:
    the cell's rect, the polygon's full shape — gpd.overlay union parity).
    Anti-joins on the piece keys."""
    types = dict(pieces.dtypes)
    cell_geom = (
        [_util.box_wkb_udf()("x", "y", "xmax", "ymax").alias("geometry")] if emit_wkb else []
    )
    un_cells = cells.join(
        pieces.select("cell_id").distinct(), "cell_id", "left_anti"
    ).select(
        "cell_id",
        F.lit(None).cast(types[poly_key]).alias(poly_key),
        F.lit(None).cast("double").alias("piece_area"),
        F.lit(None).cast("double").alias("area_pct"),
        *[F.lit(None).cast(types[c]).alias(c) for c in columns],
        *cell_geom,
    )
    un_polys = polys.join(
        pieces.select(poly_key).distinct(), poly_key, "left_anti"
    ).select(
        F.lit(None).cast(types["cell_id"]).alias("cell_id"),
        F.col(poly_key),
        F.lit(None).cast("double").alias("piece_area"),
        F.lit(None).cast("double").alias("area_pct"),
        *columns,
        *(["geometry"] if emit_wkb else []),
    )
    return pieces.unionByName(un_cells).unionByName(un_polys)


def _drop_unmatched(out: DataFrame) -> DataFrame:
    """Intersection semantics: keep only cells that genuinely overlapped —
    keyed on the piece-count marker, NOT attribute nullness (a cell whose
    only overlapping polygon carries a NULL attribute still overlaps)."""
    return out.filter(F.col("__n_pieces__").isNotNull()).drop("__n_pieces__")


# ---------------------------------------------------------------------------
# path 2: rect x WKB polygons — the shared quadtree cell classifier
# ---------------------------------------------------------------------------


def _cover_blocks(
    polygons: DataFrame, key: str, geometry_col: str, origin, cell, clip: bool
) -> DataFrame:
    """The block cover of every polygon row on the lattice ``origin``
    (x0, y0), ``cell`` (height, width) — the one cover pass of the polygon
    overlay operators. One Arrow pass decodes each row once and runs
    :func:`gridding.classify_polygons` over its bbox block, so one
    polygon's cover runs in one task. Rows: the block columns, ``__cls__``
    (ALL_IN or BOUNDARY), ``__area__`` (covered area), ``key``,
    ``__parea__`` (the polygon's area) and ``__geom__``. NULL and empty
    geometries cover nothing.

    ``clip`` makes every piece exact: a BOUNDARY cell carries its clip as
    WKB ``__geom__`` and the clip's own area (an empty clip drops the
    cell). An ALL_IN block stays whole (``__geom__`` NULL) only when its
    covered area is its full area bit for bit, which the kernel returns
    when no edge meets the block; a block the classifier took as ALL_IN
    within its 1e-9 cell-area tolerance is clipped cell by cell as
    BOUNDARY. Without ``clip``, ``__geom__`` is NULL."""
    (x0, y0), (h, w) = origin, cell
    cols = [*GR.BLOCK_COLS, "__cls__", "__area__", key, "__parea__", "__geom__"]
    schema = (
        "__ix0__ long, __iy0__ long, __ix1__ long, __iy1__ long, __cls__ int, __area__ double, "
        f"{key} {dict(polygons.dtypes)[key]}, __parea__ double, __geom__ binary"
    )

    def _clip_pieces(mp, blocks: pd.DataFrame) -> pd.DataFrame:
        ix0, iy0, ix1, iy1 = blocks[GR.BLOCK_COLS].to_numpy().T
        # the block area as classify_blocks computes it
        full = ((x0 + ix1 * w) - (x0 + ix0 * w)) * ((y0 + iy1 * h) - (y0 + iy0 * h))
        whole = (blocks["__cls__"].to_numpy() == GR.ALL_IN) & (blocks["__area__"].to_numpy() == full)
        rows = []
        for i in np.flatnonzero(~whole):
            for a in range(ix0[i], ix1[i]):
                for b in range(iy0[i], iy1[i]):
                    piece = G.multipolygon_clip(mp, x0 + a * w, y0 + b * h, x0 + (a + 1) * w, y0 + (b + 1) * h)
                    if piece:
                        area = G.multipolygon_area(piece)
                        rows.append((a, b, a + 1, b + 1, GR.BOUNDARY, area, wkb.encode_multipolygon(piece)))
        parts = [blocks[whole].assign(__geom__=None)]
        if rows:
            parts.append(pd.DataFrame(rows, columns=[*GR.BLOCK_COLS, "__cls__", "__area__", "__geom__"]))
        return pd.concat(parts, ignore_index=True)

    def _classify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            frames = [
                (_clip_pieces(mp, blocks) if clip else blocks.assign(__geom__=None)).assign(
                    **{key: pid, "__parea__": G.multipolygon_area(mp)}
                )
                for pid, mp, blocks in GR.classify_polygons(batch[key], batch[geometry_col], origin, cell)
            ]
            yield pd.concat(frames, ignore_index=True)[cols] if frames else pd.DataFrame(columns=cols)

    return polygons.select(key, geometry_col).mapInPandas(_classify, schema)


def grid_overlay_polygons(
    cells: DataFrame,
    polygons: DataFrame,
    columns: Sequence[str],
    rule: str | None = "sum",
    cover: bool = False,
    area: bool = False,
    how: str = "intersection",
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
    emit_wkb: bool = False,
) -> DataFrame:
    """Overlay the cell grid with an irregular WKB polygon layer.

    No polygon geometry reaches the driver, and the grid is evaluated once:
    1. the cover pass (:func:`_cover_blocks`) classifies each polygon's
       bbox block on the lattice of ``cells`` in one Arrow pass; only
       block rows come back. The lattice comes
       from the record ``grid_maker`` attaches to ``x``, and then no job
       runs before the caller's action: a cell whose size or corner
       contradicts the record fails the action. A layer without a record
       (``polygons.grid_layer``, a user frame) pays one job for its
       lattice, and cells of more than one size raise ValueError then,
    2. interior blocks expand to cells in the JVM, each piece the whole
       cell's area; boundary cells carry their covered area from the
       classifier's rect-coverage kernel (within rounding of the exact
       clip), however small (every piece of positive area is kept). So
       sources must be valid: overlapping parts of one multipolygon count
       once in an interior cell but sum in a boundary cell and in the
       source area,
    3. pieces are keyed on the lattice ``(ix, iy)``: rules aggregate on
       that key before ONE join onto ``cells`` (rule=None joins it once).

    ``emit_wkb=True`` (rule=None only) carries each piece's CLIPPED
    geometry (cell ∩ polygon, holes preserved) as WKB: the clip of a
    boundary cell, the rectangle of a cell the polygon covers whole; a
    clipped piece's area is then its clip's own.
    """
    _check_how(how, rule)
    _check_emit_wkb(emit_wkb, rule)
    CRS.check_layers_crs(cells, polygons, "geometry", geometry_col, context="grid_overlay_polygons")
    rec = GR.lattice_of(cells, "x")
    if rec is None:
        gx0, gy0, gw, gh = _grid_meta(cells, "grid cells", uniform=True)
    else:
        gx0, gy0, gw, gh = rec["x0"], rec["y0"], rec["width"], rec["height"]
    origin, lattice = (gx0, gy0), (gh, gw)
    blocks = _cover_blocks(polygons, poly_key, geometry_col, origin, lattice, clip=emit_wkb)
    if columns:
        # attributes join the block rows: fewer than the cells they expand to
        blocks = blocks.join(polygons.select(poly_key, *columns), poly_key)
    interior = F.col("__cls__") == GR.ALL_IN
    piece_area = F.when(interior, F.lit(gw * gh)).otherwise(F.col("__area__"))
    pieces = GR.explode_blocks(blocks, "_gix", "_giy").select(
        "_gix", "_giy", poly_key,
        piece_area.alias("piece_area"),
        F.when(F.col("__parea__") > 0, piece_area / F.col("__parea__")).alias("area_pct"),
        *columns, *(["__cls__", "__geom__"] if emit_wkb else []),
    )
    # cells on the lattice index of their centre, half a cell from any line
    keyed = cells.withColumns(
        {
            "_gix": GR.lattice_index((F.col("x") + F.col("xmax")) / 2, gx0, gw),
            "_giy": GR.lattice_index((F.col("y") + F.col("ymax")) / 2, gy0, gh),
        }
    )
    if rec is not None:
        keyed = _check_on_lattice(keyed, rec, "_gix", "_giy")
    if rule is None:
        corners = ["_cx", "_cy", "_cxm", "_cym"] if emit_wkb else []
        pieces = keyed.select(
            "cell_id", "_gix", "_giy",
            *(F.col(c).alias(a) for c, a in zip(("x", "y", "xmax", "ymax"), corners)),
        ).join(pieces, ["_gix", "_giy"])
        geom = []
        if emit_wkb:
            # an interior piece is its cell's own rectangle
            rect = _util.box_wkb_udf()(*corners)
            geom = [F.when(interior, rect).otherwise(F.col("__geom__")).alias("geometry")]
        pieces = pieces.select("cell_id", poly_key, "piece_area", "area_pct", *columns, *geom)
        if how == "union_full":
            psel = [poly_key, *columns]
            if emit_wkb:
                psel.append(F.col(geometry_col).alias("geometry"))
            return _union_full_pieces(
                pieces, cells, polygons.select(*psel), columns, poly_key, emit_wkb=emit_wkb
            )
        return pieces
    out = _apply_rule(
        pieces, keyed, columns, rule, cover, area, keys=["_gix", "_giy"], poly_key=poly_key
    ).drop("_gix", "_giy")
    return _drop_unmatched(out) if how == "intersection" else out.drop("__n_pieces__")


def _decode_cache(limit: int = 4096):
    """Per-batch-iterator WKB decode cache keyed by polygon id — one
    decode per polygon per Python worker, bounded. The candidate-pair loop
    of ``polygon_overlay_pieces`` meets each polygon in many pairs."""
    from pygridmap_spark.core import wkb as _WKB

    cache: dict = {}

    def get(pid, buf):
        mp = cache.get(pid)
        if mp is None:
            mp = _WKB.decode_multipolygon(bytes(buf))
            if len(cache) < limit:
                cache[pid] = mp
        return mp

    return get


def _check_index_lattice(cell: float, x0: float = 0.0, y0: float = 0.0) -> None:
    """Raise ValueError unless ``cell`` is finite and positive and the
    origin finite: on any other lattice a cover is empty or divides by
    zero at action time."""
    if not (math.isfinite(cell) and cell > 0):
        raise ValueError(f"cell must be finite and positive, got {cell!r}")
    for name, v in (("x0", x0), ("y0", y0)):
        if not math.isfinite(v):
            raise ValueError(f"{name} must be finite, got {v!r}")


def _mean_bbox_span(layer: DataFrame, geometry_col: str) -> float:
    """``max(mean bbox width, mean bbox height, 1e-12)`` over the layer's
    non-empty geometries: one aggregation job over a scalar pandas UDF.
    Raises ValueError when no geometry is non-empty."""

    @F.pandas_udf("w double, h double")
    def _span(wkbs: pd.Series) -> pd.DataFrame:
        spans = np.full((len(wkbs), 2), np.nan)  # NaN comes back as NULL
        for i, buf in enumerate(wkbs):
            mp = None if buf is None else wkb.decode_multipolygon(bytes(buf))
            if mp and any(len(p) for p in mp):
                xmin, ymin, xmax, ymax = G.multipolygon_bbox(mp)
                spans[i] = xmax - xmin, ymax - ymin
        return pd.DataFrame(spans, columns=["w", "h"])

    row = layer.select(_span(geometry_col).alias("s")).agg(F.avg("s.w").alias("w"), F.avg("s.h").alias("h"))
    row = row.collect()[0]
    if row["w"] is None:
        raise ValueError("empty right layer: cannot derive index cell size")
    return max(row["w"], row["h"], 1e-12)


def polygon_overlay_pieces(
    left: DataFrame,
    right: DataFrame,
    columns: Sequence[str] = (),
    left_key: str = "left_id",
    right_key: str = "right_id",
    geometry_col: str = "geometry",
    cell: float | None = None,
    emit_wkb: bool = False,
    how: str = "intersection",
    dissolve: bool = False,
) -> DataFrame:
    """General polygon x polygon overlay — intersection pieces of two
    ARBITRARY WKB polygon layers (reference overlay_polygon,
    overlay.py:287-309; its HOWS are exactly ['intersection', 'union']),
    neither side required to be a grid nor to fit on the driver.
    ``how='union_full'`` appends the gpd.overlay-union unmatched rows:
    left polygons with no overlap (null right key/attrs) and right
    polygons with no overlap (null left key), each carrying its ORIGINAL
    geometry when ``emit_wkb``. ``dissolve=True`` (with emit_wkb) removes
    the triangulation seams from concave-clip piece geometry via exact
    edge cancellation (core.geometry.dissolve_multipolygon — best-effort,
    falls back to fragments on any area mismatch; identical areas and
    membership either way).

    Fully distributed plan:

    1. both sides run the cover pass (:func:`_cover_blocks`) on one
       shared ``cell x cell`` index lattice at the origin: one polygon's
       block cover runs in one task, and only ids and block scalars come
       back; a NULL or empty geometry covers nothing,
    2. blocks expand to cells in the JVM; the candidate pairs are the
       ``(left_key, right_key)`` pairs that share a covered cell,
       deduplicated (ids-only exchange). A pair whose bboxes meet but
       whose covers do not (one inside the other's hole) drops here,
       before any WKB moves. ``right_area`` rides along from the right
       side's cover pass,
    3. each side's WKB joins the pairs ONCE by id,
    4. exact piece geometry per pair via the boolean kernel
       (core.geometry.intersect_multipolygons): Sutherland-Hodgman against
       convex clips, ear-clipped triangle windows for concave ones. Holes
       allowed on either side, not both per pair (kernel contract).

    Output: (left_key, right_key, piece_area, area_pct=piece/right_area,
    *right columns[, geometry WKB when emit_wkb]). ``cell`` is the spatial
    index pitch, finite and positive (ValueError otherwise); None derives
    it from the mean bbox span of the non-empty right geometries (one
    tiny aggregation job)."""
    if left_key == right_key:
        raise ValueError("left_key and right_key must differ (rename one side)")
    if how not in ("intersection", "union_full"):
        raise ValueError(f"how must be 'intersection' or 'union_full', got {how!r}")
    CRS.check_layers_crs(left, right, geometry_col, geometry_col, context="polygon_overlay_pieces")
    if cell is None:
        cell = _mean_bbox_span(right, geometry_col)
    _check_index_lattice(cell)

    def _cells(layer: DataFrame, key: str) -> DataFrame:
        blocks = _cover_blocks(layer, key, geometry_col, (0.0, 0.0), (cell, cell), clip=False)
        return GR.explode_blocks(blocks.select(*GR.BLOCK_COLS, key, "__parea__"), "_gix", "_giy")

    pairs = (
        _cells(left, left_key).drop("__parea__")
        .join(_cells(right, right_key), ["_gix", "_giy"])
        # the clip kernel must not re-pay the right-side shoelace per pair
        .select(left_key, right_key, F.col("__parea__").alias("_rarea"))
        .dropDuplicates([left_key, right_key])
    )
    # WKB fetched once per side by id — never rides the cover replication
    pairs = pairs.join(
        left.select(left_key, F.col(geometry_col).alias("_lwkb")), left_key
    ).join(
        right.select(right_key, F.col(geometry_col).alias("_rwkb")), right_key
    )

    key_types = dict(left.dtypes) | dict(right.dtypes)
    geom_field = ", geometry binary" if emit_wkb else ""
    out_schema = (
        f"{left_key} {key_types[left_key]}, {right_key} {key_types[right_key]}, "
        f"piece_area double, right_area double{geom_field}"
    )

    def _clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lcache = _decode_cache()
        rcache = _decode_cache()
        # ear-clipping a concave polygon is O(n^2): memoized per polygon,
        # never re-paid per candidate pair
        wcache: dict = {}

        for batch in batches:
            if not len(batch):
                continue
            lk = batch[left_key].to_numpy()
            rk = batch[right_key].to_numpy()
            areas = np.empty(len(batch))
            geoms_out = [None] * len(batch) if emit_wkb else None
            for i in range(len(batch)):
                a = lcache(lk[i], batch["_lwkb"].iloc[i])
                b = rcache(rk[i], batch["_rwkb"].iloc[i])
                pieces = G.intersect_multipolygons(
                    a, b, windows_cache=wcache, a_key=("L", lk[i]), b_key=("R", rk[i])
                )
                areas[i] = G.multipolygon_area(pieces)
                if emit_wkb and pieces:
                    if dissolve:
                        pieces = G.dissolve_multipolygon(pieces)
                    geoms_out[i] = wkb.encode_multipolygon(pieces)
            out = pd.DataFrame({left_key: lk, right_key: rk})
            out["piece_area"] = areas
            out["right_area"] = batch["_rarea"].to_numpy()
            if emit_wkb:
                out["geometry"] = pd.Series(geoms_out, index=out.index, dtype=object)
            yield out[out["piece_area"] > 0]

    pieces = pairs.mapInPandas(_clip, out_schema)
    attrs = right.select(right_key, *columns)
    geom_cols = ["geometry"] if emit_wkb else []
    out = (
        pieces.join(attrs, right_key)
        .withColumn(
            "area_pct",
            F.when(F.col("right_area") > 0, F.col("piece_area") / F.col("right_area")),
        )
        .select(left_key, right_key, "piece_area", "area_pct", *columns, *geom_cols)
    )
    if how == "union_full":
        types = dict(out.dtypes)
        nulls = [
            F.lit(None).cast("double").alias("piece_area"),
            F.lit(None).cast("double").alias("area_pct"),
        ]
        lgeom = [F.col(geometry_col).alias("geometry")] if emit_wkb else []
        un_left = left.join(out.select(left_key).distinct(), left_key, "left_anti").select(
            F.col(left_key),
            F.lit(None).cast(types[right_key]).alias(right_key),
            *nulls,
            *[F.lit(None).cast(types[c]).alias(c) for c in columns],
            *lgeom,
        )
        un_right = right.join(out.select(right_key).distinct(), right_key, "left_anti").select(
            F.lit(None).cast(types[left_key]).alias(left_key),
            F.col(right_key),
            *nulls,
            *columns,
            *lgeom,
        )
        out = out.unionByName(un_left).unionByName(un_right)
    return out


def area_interpolate(
    spark: SparkSession,
    source_polygons: DataFrame,
    target_cells: DataFrame,
    columns: Sequence[str],
    geometry_col: str = "geometry",
) -> DataFrame:
    """Tobler-style weighted areal interpolation (overlay.py:559-605):
    rule='sum', area & cover on, intersection semantics — each target cell
    receives sum(attr * overlap_share_of_source). ``spark`` is unused (the
    session comes with the frames); it stays for call compatibility."""
    return grid_overlay_polygons(
        target_cells, source_polygons, columns,
        rule="sum", cover=True, area=True, how="intersection", geometry_col=geometry_col,
    )


def dissolve_pieces(
    pieces: DataFrame,
    group_col: str = "poly_id",
    geometry_col: str = "geometry",
    strict: bool = False,
    presplit_col: str | None = None,
) -> DataFrame:
    """Dissolve overlay piece geometries per group into one seam-free
    multipolygon — the distributed form of the reference's
    ``gpd.dissolve`` over overlay output (overlay.py:296-309 carries the
    union-dissolved piece geometry). Returns one row per group:
    ``(group_col, geometry, n_pieces, area)``.

    Exactness: the engine's own piece outputs (S-H rect clips, triangle
    fragments) share bit-identical interior edges, so the shared-edge
    cancellation in :func:`core.geometry.dissolve_multipolygon` removes
    every seam with zero tolerance; ``strict=True`` raises on any group
    where that guarantee does not hold (instead of keeping the fragments).

    Scale: one shuffle keyed by ``group_col`` (each group's pieces are a
    single source polygon's fragments — bounded by the polygon's cover
    cells, the same bound the overlay itself already relies on); the
    dissolve itself is an Arrow-grouped numpy pass. Groups ride a sorted
    streaming map (``util.grouped_rows_sorted``) rather than
    ``applyInPandas``, so the fixed per-group Arrow fee is paid per BATCH
    — at 100k+ groups that fee, not the kernel, dominates the stage.

    ``presplit_col``: hierarchical two-level dissolve for HOT groups (a
    continent-sized polygon whose cover-cell pieces would otherwise be one
    applyInPandas task). Pass any spatially-coherent sub-key (e.g. a
    coarse block id from the piece's cell coordinates): level 1 dissolves
    each ``(group, block)`` in parallel KEEPING collinear seam vertices —
    so block outlines carry their boundary edges at original piece
    granularity and still cancel bit-exactly — and level 2 strict-merges
    the block outlines per group. Identical final geometry (same edge
    multiset), the hot group's work spread over its blocks."""
    from pygridmap_spark.core import geometry as _G
    from pygridmap_spark.core import wkb as _WKB

    key_type = dict(pieces.dtypes)[group_col]
    schema = f"{group_col} {key_type}, {geometry_col} binary, n_pieces long, area double"

    def _make_dissolve(drop_collinear: bool, count_col: str | None):
        def _dissolve(pdf: pd.DataFrame) -> dict:
            mp: list = []
            n_pieces = 0
            for i, buf in enumerate(pdf[geometry_col]):
                if buf is None:
                    continue  # NULL geometry: contributes nothing
                mp.extend(_WKB.decode_multipolygon(bytes(buf)))
                n_pieces += int(pdf[count_col].iloc[i]) if count_col else 1
            out = _G.dissolve_multipolygon(
                mp, strict=strict, drop_collinear=drop_collinear
            )
            if count_col and drop_collinear:
                # level 2: a single-block group early-returns from the
                # dissolve untraversed, still carrying level 1's kept
                # collinear seam vertices — clean them so presplit output
                # is identical to flat-mode output for EVERY group
                out = _G.remove_collinear_vertices(out)
            return {
                group_col: pdf[group_col].iloc[0],
                geometry_col: _WKB.encode_multipolygon(out),
                "n_pieces": n_pieces,
                "area": _G.multipolygon_area(out),
            }

        return _dissolve

    if presplit_col is None:
        return _util.grouped_rows_sorted(
            pieces.select(group_col, geometry_col),
            [group_col], _make_dissolve(True, None), schema,
        )
    # level 1: per (group, block), collinear vertices KEPT so block
    # outlines stay edge-compatible across blocks
    lvl1 = _util.grouped_rows_sorted(
        pieces.select(group_col, presplit_col, geometry_col),
        [group_col, presplit_col], _make_dissolve(False, None), schema,
    )
    # level 2: strict-merge block outlines per group (original piece
    # counts carried through)
    return _util.grouped_rows_sorted(
        lvl1, [group_col], _make_dissolve(True, "n_pieces"), schema
    )


def union_exact_geoms(
    geoms: DataFrame,
    group_col: str = "poly_id",
    geometry_col: str = "geometry",
) -> DataFrame:
    """Per-group EXACT unary union of arbitrary geometries — overlapping,
    concave, holed; the general-shape reference parity with GEOS
    ``unary_union`` (/root/reference/pygridmap/base.py:504-516). Unlike
    :func:`dissolve_pieces` (which requires partition inputs with
    bit-identical shared edges), this routes through the arrangement
    kernel (``core.geometry.union_exact``: trapezoid decomposition of the
    edge arrangement + strict shared-edge dissolve) — no tolerance, no
    fallback, works on any simple-polygon inputs.

    Returns one row per group: ``(group_col, geometry, n_geoms, n_polys,
    area)``.

    Scale: one shuffle keyed by ``group_col``; the per-group kernel pays
    an O(E^2) crossing scan over that group's edges, so groups must be
    dimension-bounded (an overlay family, a dissolve region) — the same
    per-group contract as :func:`dissolve_pieces`."""
    from pygridmap_spark.core import geometry as _G
    from pygridmap_spark.core import wkb as _WKB

    key_type = dict(geoms.dtypes)[group_col]

    def _union(pdf: pd.DataFrame) -> dict:
        gs: list = []
        for buf in pdf[geometry_col]:
            if buf is None:
                continue
            gs.append(_WKB.decode_multipolygon(bytes(buf)))
        out = _G.union_exact(gs)
        return {
            group_col: pdf[group_col].iloc[0],
            geometry_col: _WKB.encode_multipolygon(out),
            "n_geoms": len(gs),
            "n_polys": len(out),
            "area": _G.multipolygon_area(out),
        }

    return _util.grouped_rows_sorted(
        geoms.select(group_col, geometry_col),
        [group_col], _union,
        f"{group_col} {key_type}, {geometry_col} binary, "
        "n_geoms long, n_polys long, area double",
    )


def union_exact_distributed(
    polygons: DataFrame,
    cell: float,
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
    x0: float = 0.0,
    y0: float = 0.0,
) -> DataFrame:
    """Whole-LAYER exact unary union at scale — the capability the
    reference's driver-side ``unary_union`` (base.py:504-516 via GEOS)
    cannot provide beyond driver memory. Returns one row per non-empty
    ``cell x cell`` tile: ``(tile_x, tile_y, geometry, n_inputs, area)``
    where ``geometry`` is the EXACT union outline within that tile
    (``core.geometry.union_exact``: arrangement partition + strict
    dissolve, no tolerance).

    Exactness contract: tiles partition the plane, so area and membership
    are exact for the whole layer (``sum(area)`` is the exact union
    area); the outline is seam-free WITHIN a tile — tile boundaries
    remain as internal seams across rows, the same cell-bounded geometry
    form the engine's block covers use.

    Scale plan (and why it beats shuffling raw polygons):
    1. the cover pass (:func:`_cover_blocks` with ``clip``) classifies
       each polygon over the tile lattice at ``(x0, y0)``; one polygon's
       cover runs in one task, which decodes it once and clips it to each
       BOUNDARY tile there — so the tile exchange carries only the
       clipped piece that lands in a tile, never a continent polygon
       replicated to its 10^4 tiles,
    2. blocks the polygon covers whole expand to tiles in the JVM, their
       piece the tile square with no clip,
    3. one tile-keyed exchange + per-tile ``union_exact`` kernel (group
       size bounded by what genuinely overlaps a tile). A tile some input
       covers whole is the square and skips the kernel.

    ``n_inputs`` counts the tile's non-empty pieces; a NULL or empty
    geometry covers nothing. ``cell`` must be finite and positive and
    ``x0``/``y0`` finite (ValueError). ``cell`` trades kernel size against
    tile count: the per-tile arrangement scan is O(E^2) in the edges that
    touch the tile."""
    _check_index_lattice(cell, x0, y0)
    blocks = _cover_blocks(polygons, poly_key, geometry_col, (x0, y0), (cell, cell), clip=True)
    pieces = GR.explode_blocks(blocks.select(*GR.BLOCK_COLS, "__geom__"), "tile_x", "tile_y")

    def _union(pdf: pd.DataFrame) -> dict:
        tx, ty = int(pdf["tile_x"].iloc[0]), int(pdf["tile_y"].iloc[0])
        if pdf["__geom__"].isna().any():  # a NULL piece is the whole tile
            xa, ya, xb, yb = x0 + tx * cell, y0 + ty * cell, x0 + (tx + 1) * cell, y0 + (ty + 1) * cell
            u = [[np.array([[xa, ya], [xb, ya], [xb, yb], [xa, yb], [xa, ya]])]]
        else:
            u = G.union_exact([wkb.decode_multipolygon(bytes(b)) for b in pdf["__geom__"]])
        return {
            "tile_x": tx,
            "tile_y": ty,
            geometry_col: wkb.encode_multipolygon(u),
            "n_inputs": len(pdf),
            "area": G.multipolygon_area(u),
        }

    return _util.grouped_rows_sorted(
        pieces, ["tile_x", "tile_y"], _union,
        f"tile_x long, tile_y long, {geometry_col} binary, n_inputs long, area double",
    )
