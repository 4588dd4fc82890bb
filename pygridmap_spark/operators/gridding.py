"""GridMaker — regular-grid rasterisation of polygon masks (SURVEY §2.7).

Reference parity: pygridmap.gridding.GridMaker / grid_maker
(gridding.py:132-399). Output columns mirror the reference's grid frame:
``__x__``/``__y__`` lower-left corner (xypos anchors supported),
``__tile__`` linearized tile id (ix + iy*nxtiles, gridding.py:165-167),
``__intersects__``/``__within__`` mask-predicate flags, plus engine-native
integer keys (cell_x, cell_y, cell_id).

Spark-first plan (NOT the reference's process pool), one for every mode
and grid size:

1. driver computes grid/tile shape constants (core.bboxes),
2. the processing tiles are one ``range`` DataFrame; one Arrow pass with
   the broadcast mask runs :func:`classify_blocks` over each batch's
   tiles — the reference's quadtree (gridding.py:191-255), whose prll mode
   emits the same grid, one vectorized rect-coverage evaluation per level
   — and returns decided blocks: whole interior (or, for trim=False,
   exterior) blocks and 1x1 boundary cells (exterior when their covered
   area is at most 1e-9 cell areas),
3. blocks expand to cells in the JVM (``sequence``/``explode``), their
   flags literals of the block class — no per-cell geometry work,
4. trim/interior filters (gridding.py:169-172, 186-188) drop blocks
   before they expand.

With a mask, the tile ``range`` gets one partition per
``TILE_EDGES_PER_TASK`` tiles x mask vertices (at most
``defaultParallelism``): every partition is one Python task, and a task's
worker set-up costs more than classifying a hundred tiles of a simple
mask, while a detailed mask needs every core.

The grid carries its lattice as a record in the column metadata of
``__x__`` (:func:`with_lattice`, next to the CRS entry): corner origin,
cell width/height and integer shape. The overlay reads its plan constants
from it, so no job recovers them; ``xypos`` anchors other than ``LLc``
move ``__x__`` off the corner and get no record.
"""

from __future__ import annotations

import math
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb

ALL_OUT, BOUNDARY, ALL_IN = 0, 1, 2
EDGE_EPS = 1e-12
#: processing tiles x mask ring vertices per Python task of ``grid_maker``'s
#: classifier pass. Each task pays ~0.19 s CPU of Python worker set-up
#: before its first batch, and classifying costs ~2-6e-5 s CPU per tile x
#: vertex (81 tiles: ~0.03 s with a 16-vertex star, ~10 s with a
#: 2,000-vertex one; PySpark 4.1.2, Python 3.11.7, 4 vCPUs), so a task gets
#: up to ~0.5 s of work: a simple mask's grid classifies in one task, a
#: detailed mask's spreads over ``defaultParallelism``
TILE_EDGES_PER_TASK = 8192
#: column-metadata key of the lattice record
LATTICE_META_KEY = "lattice"
#: the half-open index block columns of every block frame
BLOCK_COLS = ["__ix0__", "__iy0__", "__ix1__", "__iy1__"]


def lattice_index(v, origin: float, size: float):
    """Index of the lattice cell holding coordinate ``v`` — the one
    coordinate-to-index rule of every cell-keyed plan: cell ``i`` spans
    ``[origin + i*size, origin + (i+1)*size)``. ``v`` is a float (an int
    comes back) or a Column (a long Column comes back)."""
    q = (v - origin) / size
    return F.floor(q) if isinstance(q, Column) else math.floor(q)


def lattice_span(lo, hi, origin: float, size: float):
    """Half-open index range ``(i0, i1)`` of the cells an interval
    ``[lo, hi]`` touches, floats or Columns. The max edge backs off
    ``EDGE_EPS`` so an edge on a cell line does not claim the next cell;
    where the eps is below an ulp that cell only costs work, its clip is
    zero."""
    return lattice_index(lo, origin, size), lattice_index(hi - EDGE_EPS, origin, size) + 1


def with_lattice(
    df: DataFrame, col: str, origin: Sequence[float], cell: Sequence[float], shape: Sequence[int]
) -> DataFrame:
    """Attach the lattice record to ``col``'s metadata, merged with what is
    there (the CRS entry): corner ``origin`` (x0, y0), ``cell`` (height,
    width) and integer ``shape`` (nrows, ncols). Cell ``(i, j)`` spans
    ``[x0 + i*width, x0 + (i+1)*width) x [y0 + j*height, ...)``. The record
    survives renames, projections, joins and checkpoints of the column."""
    (x0, y0), (height, width), (nrows, ncols) = origin, cell, shape
    meta = dict(df.schema[col].metadata or {})
    meta[LATTICE_META_KEY] = {
        "x0": float(x0), "y0": float(y0), "width": float(width), "height": float(height),
        "nrows": int(nrows), "ncols": int(ncols),
    }
    return df.withMetadata(col, meta)


def lattice_of(df: DataFrame, col: str) -> dict | None:
    """The lattice record on ``col`` (see :func:`with_lattice`), or None when
    the column is missing or carries none."""
    if col not in df.columns:
        return None
    return (df.schema[col].metadata or {}).get(LATTICE_META_KEY)


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


def classify_blocks(geoms, origin, cell, blocks, outside: bool = False) -> pd.DataFrame:
    """Quadtree classification of lattice blocks against a mask — the one
    cell classifier of ``grid_maker``, ``spatialjoin.polygon_pip_join`` and
    ``overlay.grid_overlay_polygons`` (reference gridding.py:146-151,
    180-182, 191-255).

    ``geoms`` is a list of multipolygons, OR-reduced per geometry (never
    summed across overlapping rows); ``origin`` (x0, y0) and ``cell``
    (height, width) define the lattice; ``blocks`` holds rows ``(ix0, iy0,
    ix1, iy1)``, half-open integer ranges ``[ix0, ix1) x [iy0, iy1)``.
    Level-synchronous: every undecided block of one quadtree level goes
    through one :func:`geometry.multipolygon_rect_areas` call per geometry.
    Returns the decided blocks as a frame ``__ix0__, __iy0__, __ix1__,
    __iy1__, __cls__, __area__``: ALL_IN blocks (some geometry covers the
    block up to less than 1e-9 cell areas, per CELL so the class holds for
    every cell in it), BOUNDARY 1x1 cells (some covered area positive,
    however small), and ALL_OUT blocks (every covered area exactly zero:
    the kernel gives a block no polygon edge meets exactly 0.0 or its full
    area) only when ``outside``. ``__area__`` is the largest
    single-geometry covered area, within rounding of the exact clip;
    ``grid_maker`` applies the 1e-9 cell-area tolerance to it to read a
    sliver as outside. Blocks are index ranges, so a split always shrinks
    its block."""
    x0, y0 = origin
    height, width = cell
    tol = 1e-9 * height * width
    boxed = [(g, G.multipolygon_bbox(g)) for g in geoms if any(len(p) for p in g)]
    level = np.asarray(blocks, dtype=np.int64).reshape(-1, 4)
    out = [(np.empty((0, 4), np.int64), np.empty(0, np.int32), np.empty(0))]
    while len(level):
        level = level[(level[:, 2] > level[:, 0]) & (level[:, 3] > level[:, 1])]
        ix0, iy0, ix1, iy1 = level.T
        xmin, ymin = x0 + ix0 * width, y0 + iy0 * height
        xmax, ymax = x0 + ix1 * width, y0 + iy1 * height
        area = np.zeros(len(level))
        for g, (bxmin, bymin, bxmax, bymax) in boxed:
            hit = np.flatnonzero((bxmax >= xmin) & (bxmin <= xmax) & (bymax >= ymin) & (bymin <= ymax))
            if len(hit):
                clip = G.multipolygon_rect_areas(g, xmin[hit], ymin[hit], xmax[hit], ymax[hit])
                area[hit] = np.maximum(area[hit], clip)
        full = (xmax - xmin) * (ymax - ymin) - tol
        cls = np.where(area >= full, ALL_IN, np.where(area > 0.0, BOUNDARY, ALL_OUT)).astype(np.int32)
        split = (cls == BOUNDARY) & ((ix1 - ix0 > 1) | (iy1 - iy0 > 1))
        keep = ~split & ((cls != ALL_OUT) | outside)
        out.append((level[keep], cls[keep], area[keep]))
        ix0, iy0, ix1, iy1 = level[split].T
        mx, my = ix0 + (ix1 - ix0 + 1) // 2, iy0 + (iy1 - iy0 + 1) // 2
        level = np.concatenate(
            [
                np.column_stack(q)
                for q in ((ix0, iy0, mx, my), (mx, iy0, ix1, my), (ix0, my, mx, iy1), (mx, my, ix1, iy1))
            ]
        )
    rects, cls, area = (np.concatenate(v) for v in zip(*out))
    frame = pd.DataFrame(rects, columns=BLOCK_COLS)
    frame["__cls__"], frame["__area__"] = cls, area
    return frame


def classify_polygons(keys, wkbs, origin, cell, max_span: int | None = None):
    """``(key, multipolygon, blocks)`` per non-empty WKB polygon row: its
    :func:`classify_blocks` frame over the :func:`lattice_span` of its
    bbox, unclamped. NULL and empty geometries yield nothing. A row whose
    block spans more than ``max_span`` cells on an axis raises ValueError
    naming its key before it is classified."""
    (x0, y0), (height, width) = origin, cell
    for key, buf in zip(keys, wkbs):
        mp = None if buf is None else wkb.decode_multipolygon(bytes(buf))
        if not mp or not any(len(p) for p in mp):
            continue  # NULL or empty geometry: no cells
        bxmin, bymin, bxmax, bymax = G.multipolygon_bbox(mp)
        (ix0, ix1), (iy0, iy1) = lattice_span(bxmin, bxmax, x0, width), lattice_span(bymin, bymax, y0, height)
        if max_span is not None and max(ix1 - ix0, iy1 - iy0) > max_span:
            raise ValueError(
                f"polygon {key!r} spans {ix1 - ix0} x {iy1 - iy0} cells, more than {max_span} on an "
                f"axis: are its coordinates in the lattice's units?"
            )
        yield key, mp, classify_blocks([mp], origin, cell, [(ix0, iy0, ix1, iy1)])


def explode_blocks(blocks: DataFrame, x: str, y: str) -> DataFrame:
    """Half-open index blocks (columns ``__ix0__, __iy0__, __ix1__,
    __iy1__``) -> one row per cell ``(x, y)``, in the JVM; the block
    columns are dropped."""
    return (
        blocks.withColumn(x, F.explode(F.sequence("__ix0__", F.col("__ix1__") - 1)))
        .withColumn(y, F.explode(F.sequence("__iy0__", F.col("__iy1__") - 1)))
        .drop("__ix0__", "__iy0__", "__ix1__", "__iy1__")
    )


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

    ``mode`` mirrors the reference's GridMaker modes (gridding.py:95-96),
    whose outputs are identical: it is validated for signature parity and
    selects nothing — every mode runs the one quadtree plan. As in the
    reference, 'qtree' requires trim=True.
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
    mask_rows = polys = None
    if mask is not None:
        if mode == "qtree" and not trim:
            raise ValueError("qtree mode requires trim=True (all-out cells are pruned)")
        # a NULL mask row covers nothing, like an empty geometry
        mask_rows = [bytes(r[0]) for r in mask.select(geometry_col).collect() if r[0] is not None]
        polys = _decode_mask(mask_rows)  # list of per-row multipolygons
        if bbox is None:
            if not polys:
                raise ValueError("mask has no non-empty geometry to take the grid extent from; pass a bbox")
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
    if crop:
        # the aligned bbox holds whole cells: count them as integers, never
        # as the ceil of a float quotient that may land a hair above one
        nrows, ncols = B.align_shape([height, width], bbox)
        bbox = [bbox[0], bbox[1], bbox[0] + ncols * width, bbox[1] + nrows * height]
    else:
        nrows, ncols = B.get_grid_shape([height, width], bbox)
    tilesize = list(tile) if tile else [32, 32]
    nytiles, nxtiles = -(-nrows // tilesize[0]), -(-ncols // tilesize[1])
    xmin, ymin = bbox[0], bbox[1]

    # one row per processing tile, its cell block cropped to the grid
    ntiles = nxtiles * nytiles
    tix, tiy = F.col("id") % nxtiles, (F.col("id") / nxtiles).cast("long")
    ntasks = min(ntiles, spark.sparkContext.defaultParallelism)
    if polys is not None:  # size the Python tasks by their work (see TILE_EDGES_PER_TASK)
        edges = max(1, sum(len(ring) for mp in polys for poly in mp for ring in poly))
        ntasks = min(-(-ntiles * edges // TILE_EDGES_PER_TASK), ntasks)
    tiles = spark.range(ntiles, numPartitions=max(1, ntasks)).select(
        (tix * tilesize[1]).alias("__ix0__"),
        (tiy * tilesize[0]).alias("__iy0__"),
        F.least((tix + 1) * tilesize[1], F.lit(ncols)).alias("__ix1__"),
        F.least((tiy + 1) * tilesize[0], F.lit(nrows)).alias("__iy1__"),
    )
    if polys is None:
        blocks = tiles.withColumn("__cls__", F.lit(ALL_IN))
    else:
        bcast = spark.sparkContext.broadcast(mask_rows)
        origin, lattice = (xmin, ymin), (height, width)
        tol = 1e-9 * height * width

        def _classify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            geoms = _decode_mask(bcast.value)
            for batch in batches:
                out = classify_blocks(geoms, origin, lattice, batch[BLOCK_COLS], outside=not trim)
                # a covered area of at most 1e-9 cell areas does not intersect
                out.loc[(out["__cls__"] == BOUNDARY) & (out["__area__"] <= tol), "__cls__"] = ALL_OUT
                yield out.drop(columns="__area__")

        blocks = tiles.mapInPandas(
            _classify, "__ix0__ long, __iy0__ long, __ix1__ long, __iy1__ long, __cls__ int"
        )
        if trim:
            blocks = blocks.filter(F.col("__cls__") >= (ALL_IN if interior else BOUNDARY))

    cells = explode_blocks(blocks, "cell_x", "cell_y")
    tile_ix = (F.col("cell_x") / tilesize[1]).cast("int")
    tile_iy = (F.col("cell_y") / tilesize[0]).cast("int")
    out = cells.select(
        F.col("cell_x").cast("int").alias("cell_x"),
        F.col("cell_y").cast("int").alias("cell_y"),
        (F.lit(xmin) + F.col("cell_x") * F.lit(width)).alias("__x__"),
        (F.lit(ymin) + F.col("cell_y") * F.lit(height)).alias("__y__"),
        (tile_ix + tile_iy * F.lit(nxtiles)).alias("__tile__"),
        (F.col("cell_x") + F.col("cell_y") * ncols).alias("cell_id"),
        (F.col("__cls__") > ALL_OUT).alias("__intersects__"),
        (F.col("__cls__") == ALL_IN).alias("__within__"),
    )
    out = _finalize(out, height, width, emit_wkb, xypos, resolved_crs)
    if xypos == "LLc":  # other anchors move __x__ off the cell corner
        out = with_lattice(out, "__x__", (xmin, ymin), (height, width), (nrows, ncols))
    return out


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
    df = df.withColumns(
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
