"""GridMaker — regular-grid rasterisation of polygon masks (SURVEY §2.7).

Reference parity: pygridmap.gridding.GridMaker / grid_maker
(gridding.py:132-399). Output columns mirror the reference's grid frame:
``__x__``/``__y__`` lower-left corner (xypos anchors supported),
``__tile__`` linearized tile id (ix + iy*nxtiles, gridding.py:165-167),
``__intersects__``/``__within__`` mask-predicate flags, plus engine-native
integer keys (cell_x, cell_y, cell_id).

Spark-first plan (NOT the reference's process pool):

1. driver computes grid/tile shape constants (core.bboxes),
2. cells are generated distributed: ``range(nx) x range(ny)`` (a
   BroadcastNestedLoopJoin of two ranges — no data motion, splittable),
3. **two-phase spatial join** against the mask:
   - phase A: classify every tile rect as all-in / all-out / boundary
     using exact clip areas — the coarse short-circuit the reference does
     per-tile (gridding.py:146-151). Small grids classify on the driver
     (zero job overhead); past 16k tiles the identical classify_rect runs
     distributed over a tiles DataFrame with the broadcast mask,
   - phase B: only boundary-tile cells run the exact per-cell test, batch
     numpy inside mapInPandas (gridding.py:174-188's J2), interior/exterior
     tiles get their flags as literals — zero per-cell geometry work,
4. trim/interior filters (gridding.py:169-172, 186-188).

The quadtree mode (gridding.py:191-255) exists as an iterative DataFrame
refinement in :func:`qtree_classify` — same emitted cells, boundary-only
exact work, driver-controlled level loop.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb

ALL_OUT, BOUNDARY, ALL_IN = 0, 1, 2

# phase-A cutover: grids with more tiles than this classify distributed
# (module-level so tests can monkeypatch the cutover)
DRIVER_TILE_LIMIT = 16_384


def _decode_mask(mask_rows: Sequence[bytes]):
    """WKB mask rows -> list of multipolygons (one per mask row; empty
    geometries skipped). Row identity is preserved because the reference's
    within/intersects flags OR-reduce PER GEOMETRY (gridding.py:180-182) —
    summing clip areas across overlapping mask rows would over-count and
    misclassify partially covered rects as fully-within."""
    geoms = []
    for buf in mask_rows:
        mp = wkb.decode_multipolygon(bytes(buf))
        if mp and any(len(p) for p in mp):
            geoms.append(mp)
    return geoms


def classify_rect(geoms, xmin, ymin, xmax, ymax, eps=1e-9) -> int:
    """Exact rect-vs-mask classification, reference OR semantics
    (gridding.py:146-151, 180-182): ALL_IN iff any single mask geometry
    fully covers the rect; ALL_OUT iff no geometry touches it; else
    BOUNDARY. ``geoms`` is a list of multipolygons (one per mask row);
    a flat polygon list (ring-list elements) is accepted for backward
    compatibility. Per-geometry bbox prefilter keeps the driver loop
    O(intersecting pairs)."""
    rect_area = (xmax - xmin) * (ymax - ymin)
    any_hit = False
    for g in geoms:
        mp = g if (len(g) and isinstance(g[0], list)) else [g]
        try:
            bxmin, bymin, bxmax, bymax = G.multipolygon_bbox(mp)
        except ValueError:
            continue
        if bxmax < xmin or bxmin > xmax or bymax < ymin or bymin > ymax:
            continue
        clipped = G.multipolygon_clip_area(mp, xmin, ymin, xmax, ymax)
        if clipped >= rect_area * (1.0 - 1e-9):
            return ALL_IN
        if clipped > eps * max(rect_area, 1.0):
            any_hit = True
    return BOUNDARY if any_hit else ALL_OUT


def _classify_tiles_distributed(
    spark: SparkSession, mask_bcast, bbox, height, width, tilesize, nxtiles, nytiles
) -> DataFrame:
    """Distributed twin of the driver phase-A loop: one classify_rect per
    tile inside an Arrow UDF with the (shared) broadcast mask. Emits only
    non-ALL_OUT tiles (the cells join left-fills ALL_OUT)."""
    bcast = mask_bcast
    bbox_t = tuple(float(v) for v in bbox)
    hw = (float(height), float(width))
    ts = list(tilesize)

    def _classify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geoms = _deserialize_geoms(bcast.value)
        for batch in batches:
            if not len(batch):
                continue
            cls = np.empty(len(batch), dtype=np.int32)
            tix = batch["_tix"].to_numpy()
            tiy = batch["_tiy"].to_numpy()
            for i in range(len(batch)):
                txmin, tymin, txmax, tymax = B.get_tile_bbox(
                    [int(tiy[i]), int(tix[i])], list(hw), ts, list(bbox_t), crop=True
                )
                cls[i] = classify_rect(geoms, txmin, tymin, txmax, tymax)
            out = batch.copy()
            out["_cls"] = cls
            yield out[out["_cls"] > ALL_OUT]

    tiles = (
        spark.range(nxtiles)
        .select(F.col("id").cast("int").alias("_tix"))
        .crossJoin(spark.range(nytiles).select(F.col("id").cast("int").alias("_tiy")))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return tiles.mapInPandas(_classify, "_tix int, _tiy int, _cls int")


def _serialize_geoms(geoms):
    """per-row multipolygons -> plain nested lists (broadcast-safe)."""
    return [[[np.asarray(r).tolist() for r in poly] for poly in g] for g in geoms]


def _deserialize_geoms(data):
    return [
        [[np.asarray(r, dtype=np.float64) for r in poly] for poly in g] for g in data
    ]


def _exact_flags(geoms, x0, y0, width, height):
    """Per-cell flags with the reference's OR-per-geometry reduction
    (gridding.py:180-182): within/intersects true if ANY single mask row
    covers/touches the cell — never summed across overlapping rows."""
    n = len(x0)
    inter = np.zeros(n, dtype=bool)
    within = np.zeros(n, dtype=bool)
    cell_area = width * height
    for i in range(n):
        for mp in geoms:
            a = G.multipolygon_clip_area(
                mp, x0[i], y0[i], x0[i] + width, y0[i] + height
            )
            if a >= cell_area * (1.0 - 1e-9):
                within[i] = True
                inter[i] = True
                break
            if a > 1e-9 * cell_area:
                inter[i] = True
    return inter, within


def qtree_classify(polys, bbox, cellsize):
    """Quadtree refinement (gridding.py:191-255 semantics): recursively
    split boundary blocks until one cell is left. Blocks are integer
    cell-index ranges, so a split always shrinks its block — coordinates
    are computed only to classify. Returns (interior_blocks, boundary_cells)
    as half-open (ix0, iy0, ix1, iy1) blocks and (ix, iy) cells of the grid
    ``B.get_grid_shape`` lays over ``bbox`` — driver-side; used by the qtree
    GridMaker mode and pinned by tests against the prll mode's output."""
    height, width = cellsize
    xmin, ymin = bbox[0], bbox[1]
    nrows, ncols = B.get_grid_shape([height, width], bbox)
    interior, boundary = [], []
    stack = [(0, 0, ncols, nrows)]
    while stack:
        ix0, iy0, ix1, iy1 = stack.pop()
        cls = classify_rect(
            polys, xmin + ix0 * width, ymin + iy0 * height,
            xmin + ix1 * width, ymin + iy1 * height,
        )
        if cls == ALL_OUT:
            continue
        if cls == ALL_IN:
            interior.append((ix0, iy0, ix1, iy1))
        elif ix1 - ix0 == 1 and iy1 - iy0 == 1:
            boundary.append((ix0, iy0))
        else:
            mx = ix0 + (ix1 - ix0 + 1) // 2
            my = iy0 + (iy1 - iy0 + 1) // 2
            for qx0, qy0, qx1, qy1 in (
                (ix0, iy0, mx, my),
                (mx, iy0, ix1, my),
                (ix0, my, mx, iy1),
                (mx, my, ix1, iy1),
            ):
                if qx1 > qx0 and qy1 > qy0:
                    stack.append((qx0, qy0, qx1, qy1))
    return interior, boundary


def _buffer_amounts(buffer) -> tuple[float, float]:
    """(by, bx) bbox expansion from the reference's buffer convention
    (base.py:168-190): scalar, (by, bx) pair, True -> TOL_EPS, False/None -> 0."""
    if buffer is None or buffer is False:
        return 0.0, 0.0
    if buffer is True:
        return B.TOL_EPS, B.TOL_EPS
    if isinstance(buffer, (tuple, list)):
        if len(buffer) != 2:
            raise TypeError(f"buffer pair must be (by, bx), got {buffer!r}")
        return float(buffer[0]), float(buffer[1])
    return float(buffer), float(buffer)


def grid_maker(
    spark: SparkSession,
    mask: DataFrame | None = None,
    cell: Sequence[float] = (1000.0, 1000.0),
    bbox: Sequence[float] | None = None,
    tile: Sequence[int] | None = None,
    trim: bool = True,
    interior: bool = False,
    crop: bool = True,
    geometry_col: str = "geometry",
    emit_wkb: bool = False,
    mode: str = "prll",
    crs: str | int | None = None,
    xypos: str = "LLc",
    buffer=None,
) -> DataFrame:
    """Build the regular grid covering ``bbox`` (or the mask extent),
    flagged/trimmed against the mask. ``cell`` is (height, width) like the
    reference; ``tile`` is the processing-tile size in cells (defaults to a
    ~32x32-cell tile, the partition/classification unit).

    ``mode`` mirrors the reference's GridMaker modes (gridding.py:95-96):
    'prll' classifies fixed tiles; 'qtree' (gridding.py:191-255) refines
    adaptively so only O(perimeter) cells ever see exact geometry —
    identical output (pinned by tests). qtree requires trim=True (the
    reference's qtree prunes disjoint blocks, so all-out cells are never
    materialized).
    """
    if mode not in ("prll", "qtree", "seq"):
        raise ValueError(f"mode must be prll|qtree|seq, got {mode!r}")
    if xypos not in B.XYPOS:
        raise ValueError(f"xypos must be one of {B.XYPOS}, got {xypos!r}")
    # CRS guard: an explicit crs argument and the mask layer's declared CRS
    # must agree (reference base.py:206-221 / gridding.py:282-289); the
    # resolved CRS is attached to the emitted geometry column.
    resolved_crs = CRS.ensure_same_crs(
        crs,
        CRS.crs_of(mask, geometry_col) if mask is not None else None,
        context="grid_maker",
    )
    height, width = float(cell[0]), float(cell[1])
    polys = None
    if mask is not None:
        mask_rows = [r[0] for r in mask.select(geometry_col).collect()]
        polys = _decode_mask(mask_rows)  # list of per-row multipolygons
        if bbox is None:
            boxes = [G.multipolygon_bbox(g) for g in polys]
            bbox = [
                min(b[0] for b in boxes),
                min(b[1] for b in boxes),
                max(b[2] for b in boxes),
                max(b[3] for b in boxes),
            ]
    if bbox is None:
        raise ValueError("either mask or bbox is required")
    by, bx = _buffer_amounts(buffer)
    if by or bx:
        bbox = [bbox[0] - bx, bbox[1] - by, bbox[2] + bx, bbox[3] + by]
    bbox = B.align_bbox([height, width], bbox) if crop else list(bbox)
    nrows, ncols = B.get_grid_shape([height, width], bbox)
    tilesize = list(tile) if tile else [32, 32]
    nytiles, nxtiles = B.get_tile_shape([height, width], tilesize, bbox)

    xmin, ymin = bbox[0], bbox[1]

    if mode == "qtree" and polys is not None:
        if not trim:
            raise ValueError("qtree mode requires trim=True (all-out cells are pruned)")
        return _grid_maker_qtree(
            spark, polys, bbox, height, width, tilesize, nxtiles, ncols,
            interior, emit_wkb, xypos, resolved_crs,
        )

    # --- phase A: tile classification (coarse short-circuit) ---------------
    # small grids classify on the driver (zero job overhead, same as the
    # reference's per-tile loop); past the threshold the identical
    # classify_rect runs distributed over a tiles DataFrame with the
    # broadcast mask — the driver loop is O(#tiles x #polys) and a
    # continental 100m grid has millions of tiles
    tile_cls: dict | None = {}
    cls_df = None
    if polys is not None:
        if nxtiles * nytiles <= DRIVER_TILE_LIMIT:
            for iy in range(nytiles):
                for ix in range(nxtiles):
                    txmin, tymin, txmax, tymax = B.get_tile_bbox(
                        [iy, ix], [height, width], tilesize, bbox, crop=True
                    )
                    tile_cls[(ix, iy)] = classify_rect(polys, txmin, tymin, txmax, tymax)
        else:
            tile_cls = None
            mask_bcast = spark.sparkContext.broadcast(_serialize_geoms(polys))
            cls_df = _classify_tiles_distributed(
                spark, mask_bcast, bbox, height, width, tilesize, nxtiles, nytiles
            )

    # --- distributed cell generation -----------------------------------------
    cells = (
        spark.range(ncols)
        .select(F.col("id").cast("int").alias("cell_x"))
        .crossJoin(spark.range(nrows).select(F.col("id").cast("int").alias("cell_y")))
    )
    tile_ix = (F.col("cell_x") / tilesize[1]).cast("int")
    tile_iy = (F.col("cell_y") / tilesize[0]).cast("int")
    cells = cells.select(
        "cell_x",
        "cell_y",
        (F.lit(xmin) + F.col("cell_x") * F.lit(width)).alias("__x__"),
        (F.lit(ymin) + F.col("cell_y") * F.lit(height)).alias("__y__"),
        (tile_ix + tile_iy * F.lit(nxtiles)).alias("__tile__"),
        tile_ix.alias("_tix"),
        tile_iy.alias("_tiy"),
        (F.col("cell_x").cast("long") + F.col("cell_y").cast("long") * ncols).alias("cell_id"),
    )

    if polys is None:
        out = cells.withColumns(
            {"__intersects__": F.lit(True), "__within__": F.lit(True)}
        )
        return _finalize(out, height, width, emit_wkb, xypos, resolved_crs)

    # map tile class in. Driver path: a tiny literal frame, force the
    # broadcast. Distributed path: the non-ALL_OUT tile set can itself be
    # millions of rows (the very case the path exists for) — let AQE pick
    # the join strategy from its measured size.
    if cls_df is None:
        cls_df = spark.createDataFrame(
            [(ix, iy, c) for (ix, iy), c in tile_cls.items()], "_tix int, _tiy int, _cls int"
        )
        cls_df = F.broadcast(cls_df)
    cells = cells.join(cls_df, ["_tix", "_tiy"], "left").fillna(
        {"_cls": ALL_OUT}
    )
    if trim:
        cells = cells.filter(F.col("_cls") > ALL_OUT)

    interior_cells = cells.filter(F.col("_cls") != BOUNDARY).withColumns(
        {
            "__intersects__": F.col("_cls") == ALL_IN,
            "__within__": F.col("_cls") == ALL_IN,
        }
    )

    # --- phase B: exact per-cell classification, boundary tiles only --------
    bcast = spark.sparkContext.broadcast(_serialize_geoms(polys))
    from pygridmap_spark.util import schema_with

    out_schema = schema_with(cells, "__intersects__ boolean", "__within__ boolean")

    def _exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geoms = _deserialize_geoms(bcast.value)
        for batch in batches:
            if not len(batch):
                continue
            x0 = batch["__x__"].to_numpy(dtype=np.float64)
            y0 = batch["__y__"].to_numpy(dtype=np.float64)
            inter, within = _exact_flags(geoms, x0, y0, width, height)
            batch = batch.copy()
            batch["__intersects__"] = inter
            batch["__within__"] = within
            yield batch

    boundary_cells = cells.filter(F.col("_cls") == BOUNDARY).mapInPandas(
        _exact, out_schema
    )
    out = interior_cells.unionByName(boundary_cells)
    if trim:
        out = out.filter(F.col("__within__") if interior else F.col("__intersects__"))
    return _finalize(out, height, width, emit_wkb, xypos, resolved_crs)


def _grid_maker_qtree(
    spark: SparkSession,
    polys,
    bbox,
    height: float,
    width: float,
    tilesize,
    nxtiles: int,
    ncols: int,
    interior: bool,
    emit_wkb: bool,
    xypos: str = "LLc",
    crs: str | None = None,
) -> DataFrame:
    """qtree-mode cell production: interior blocks expand to flagged cells
    with zero geometry work; boundary candidate cells run the exact UDF."""
    xmin, ymin = bbox[0], bbox[1]
    interior_blocks, boundary_cells = qtree_classify(polys, list(bbox), [height, width])

    def cell_cols(df: DataFrame) -> DataFrame:
        tile_ix = (F.col("cell_x") / tilesize[1]).cast("int")
        tile_iy = (F.col("cell_y") / tilesize[0]).cast("int")
        return df.select(
            "cell_x",
            "cell_y",
            (F.lit(xmin) + F.col("cell_x") * F.lit(width)).alias("__x__"),
            (F.lit(ymin) + F.col("cell_y") * F.lit(height)).alias("__y__"),
            (tile_ix + tile_iy * F.lit(nxtiles)).alias("__tile__"),
            (F.col("cell_x").cast("long") + F.col("cell_y").cast("long") * ncols).alias("cell_id"),
            "__intersects__",
            "__within__",
        )

    # interior blocks -> cells (distributed explode; blocks are few)
    if interior_blocks:
        blocks = spark.createDataFrame(interior_blocks, "x0 int, y0 int, x1 int, y1 int")
        inter_cells = (
            blocks.withColumn("cell_x", F.explode(F.sequence("x0", F.col("x1") - 1)))
            .withColumn("cell_y", F.explode(F.sequence("y0", F.col("y1") - 1)))
            .select(
                "cell_x",
                "cell_y",
                F.lit(True).alias("__intersects__"),
                F.lit(True).alias("__within__"),
            )
        )
        inter_cells = cell_cols(inter_cells)
    else:
        inter_cells = None

    # boundary candidates -> exact flags via the Arrow UDF
    bcast = spark.sparkContext.broadcast(_serialize_geoms(polys))

    def _exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geoms = _deserialize_geoms(bcast.value)
        for batch in batches:
            if not len(batch):
                continue
            x0 = xmin + batch["cell_x"].to_numpy() * width
            y0 = ymin + batch["cell_y"].to_numpy() * height
            inter, within = _exact_flags(geoms, x0, y0, width, height)
            out = batch.copy()
            out["__intersects__"] = inter
            out["__within__"] = within
            yield out

    if boundary_cells:
        cand = spark.createDataFrame(boundary_cells, "cell_x int, cell_y int")
        bound_cells = cell_cols(
            cand.mapInPandas(
                _exact, "cell_x int, cell_y int, __intersects__ boolean, __within__ boolean"
            )
        )
    else:
        bound_cells = None

    parts = [p for p in (inter_cells, bound_cells) if p is not None]
    if not parts:
        # mask disjoint from bbox: empty grid with the full output schema
        empty = spark.createDataFrame(
            [], "cell_x int, cell_y int, __intersects__ boolean, __within__ boolean"
        )
        return _finalize(cell_cols(empty), height, width, emit_wkb, xypos, crs)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.filter(F.col("__within__") if interior else F.col("__intersects__"))
    return _finalize(out, height, width, emit_wkb, xypos, crs)


def sort_grid(df: DataFrame, sort: str = "rc", asc=True) -> DataFrame:
    """O1 output sort (the reference's path at gridding.py:356-362 is broken
    — undefined names; this is the intended working semantics): 'rc' sorts
    by tile then (x, y), 'cr' by tile then (y, x). ``asc`` mirrors the
    reference's per-column direction flags (base.py:176-185): a single bool
    or one bool per sort column (tile, first, second)."""
    if sort == "rc":
        cols = ["__tile__", "__x__", "__y__"]
    elif sort == "cr":
        cols = ["__tile__", "__y__", "__x__"]
    else:
        raise ValueError(f"sort must be 'rc' or 'cr', got {sort!r}")
    flags = [asc] * len(cols) if isinstance(asc, bool) else list(asc)
    if len(flags) != len(cols) or not all(isinstance(a, bool) for a in flags):
        raise TypeError(f"asc must be a bool or {len(cols)} bools, got {asc!r}")
    return df.orderBy(*[F.col(c).asc() if a else F.col(c).desc() for c, a in zip(cols, flags)])


def _finalize(
    df: DataFrame,
    height: float,
    width: float,
    emit_wkb: bool,
    xypos: str = "LLc",
    crs: str | None = None,
) -> DataFrame:
    df = df.drop("_tix", "_tiy", "_cls").withColumns(
        {
            "xmax": F.col("__x__") + F.lit(width),
            "ymax": F.col("__y__") + F.lit(height),
        }
    )
    if emit_wkb:
        # cell geometry is derivable; only materialize WKB when asked
        from pygridmap_spark.util import box_wkb_udf

        df = df.withColumn("geometry", box_wkb_udf()("__x__", "__y__", "xmax", "ymax"))
    # xypos anchors the REPORTED (__x__, __y__) coordinate inside the cell
    # (reference base.py:347-370 get_pos_location); xmax/ymax and geometry
    # stay the true cell bounds
    dx, dy = 0.0, 0.0
    if xypos in ("LRc", "URc"):
        dx = width
    if xypos in ("ULc", "URc"):
        dy = height
    if xypos in ("CC", "centre"):
        dx, dy = width / 2.0, height / 2.0
    if dx or dy:
        df = df.withColumns(
            {"__x__": F.col("__x__") + F.lit(dx), "__y__": F.col("__y__") + F.lit(dy)}
        )
    if crs:
        # declared on the geometry column, or on __x__ when emit_wkb=False
        # (the default). Attached AFTER the xypos shift: replacing __x__
        # with an Add expression drops column metadata, so attaching first
        # would silently disarm the downstream overlay CRS-mismatch guard
        # for any non-LLc anchor.
        df = CRS.with_crs(df, crs)
    return df
