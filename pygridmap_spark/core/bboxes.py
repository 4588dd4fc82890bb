"""Grid / tile coordinate math — driver-side pure functions.

These pin the exact floor/ceil/epsilon semantics of the reference's
geometry bookkeeping (parity targets, formulas re-derived not copied):

- grid shape:        /root/reference/pygridmap/base.py:271-279
- tile shape/size:   /root/reference/pygridmap/base.py:282-322
- tile bbox (+crop): /root/reference/pygridmap/base.py:325-344
- axis positions:    /root/reference/pygridmap/base.py:347-370
- origin alignment:  /root/reference/pygridmap/base.py:391-429
- tile assignment:   /root/reference/pygridmap/gridtiler.py:101-112 (v1 —
  the *correct* y-origin semantics; the v2 bug at gridtiler.py:236 is not
  reproduced)
- agg-cell coarsen:  /root/reference/pygridmap/gridtiler.py:392-393

All of these are driver-side constants or feed the Catalyst column
expressions in :mod:`pygridmap_spark.functions.tiling`.
"""

from __future__ import annotations

import math
from typing import Sequence

#: Geometric tolerance used when snapping bboxes to cell multiples
#: (reference: base.py:108, TOL_EPS = 1e-5).
TOL_EPS = 1e-5

XYPOS = ("LLc", "LRc", "URc", "ULc", "CC", "centre")

Bbox = Sequence[float]  # [xmin, ymin, xmax, ymax]


def get_bbox(xs, ys, buffer: float = 0.0) -> list[float]:
    """Extent of a point set — the ``total_bounds`` analog (base.py:223-234).

    In Spark this is ``df.agg(min(x), min(y), max(x), max(y))``; this pure
    version exists for tests and driver-side constants.
    """
    return [min(xs) - buffer, min(ys) - buffer, max(xs) + buffer, max(ys) + buffer]


def get_grid_shape(cellsize: Sequence[float], bbox: Bbox, buffer=None) -> list[int]:
    """(nrows, ncols) of unit cells covering bbox (base.py:271-279)."""
    height, width = cellsize
    buffy, buffx = buffer if buffer is not None else [0, 0]
    xmin, ymin, xmax, ymax = bbox
    return [
        int(math.ceil((ymax - ymin + 2 * buffy) / height)),
        int(math.ceil((xmax - xmin + 2 * buffx) / width)),
    ]


def set_tile_shape(ntiles: int, gridshape=None) -> list[int]:
    """Factor ``ntiles`` into (nrows, ncols) near sqrt(n), respecting the
    grid aspect ratio (base.py:282-294). Informs ``repartition(n)``."""
    n = math.sqrt(ntiles)
    if gridshape is not None:
        nrows, ncols = gridshape
        ratio = max(nrows, ncols) / min(nrows, ncols)
    else:
        nrows = ncols = ratio = 1
    nf, nc = int(math.floor(n / ratio)), int(math.ceil(n * ratio))
    if nf * nc >= ntiles:
        return [nf, nc] if nrows >= ncols else [nc, nf]
    return [nf + 1, nc] if nrows >= ncols else [nc, nf + 1]


def get_tile_shape(cellsize, tilesize: Sequence[int], bbox: Bbox, buffer=None) -> list[int]:
    """(nytiles, nxtiles) covering bbox with tiles of ``tilesize`` cells
    (base.py:297-308)."""
    height, width = [1, 1] if cellsize is None else cellsize
    nygrid, nxgrid = tilesize
    xmin, ymin, xmax, ymax = bbox
    buffy, buffx = buffer if buffer is not None else [0, 0]
    nrows = int(math.ceil((ymax - ymin + 2 * buffy) / height))
    ncols = int(math.ceil((xmax - xmin + 2 * buffx) / width))
    return [int(math.ceil(nrows / nygrid)), int(math.ceil(ncols / nxgrid))]


def get_tile_size(cellsize, tileshape: Sequence[int], bbox: Bbox, buffer=None) -> list[int]:
    """Tile dims in #cells given the tile *shape* (base.py:311-322)."""
    height, width = [1, 1] if cellsize is None else cellsize
    nytiles, nxtiles = tileshape
    nrows, ncols = get_grid_shape([height, width], bbox, buffer)
    return [int(math.ceil(nrows / nytiles)), int(math.ceil(ncols / nxtiles))]


def get_tile_bbox(
    idx: Sequence[int],
    cellsize: Sequence[float],
    tilesize: Sequence[int],
    bbox: Bbox,
    crop: bool = True,
    buffer=None,
) -> list[float]:
    """Bbox of tile (iy, ix) — optionally cropped to the grid extent
    (base.py:325-344). As a column expression this is
    ``xmin + xt*nx*w`` etc. (functions.tiling.tile_bbox_exprs)."""
    iy, ix = idx
    height, width = cellsize
    nycells, nxcells = tilesize
    buffy, buffx = buffer if buffer is not None else [0, 0]
    xmin, ymin, xmax, ymax = bbox
    tx0 = xmin - buffx + ix * nxcells * width
    ty0 = ymin - buffy + iy * nycells * height
    tx1 = tx0 + nxcells * width
    ty1 = ty0 + nycells * height
    if crop:
        # clamp the last row/col to a whole number of cells covering the grid
        gxmax = xmin - buffx + math.ceil((xmax - xmin + 2 * buffx) / width) * width
        gymax = ymin - buffy + math.ceil((ymax - ymin + 2 * buffy) / height) * height
        tx1 = min(tx1, gxmax)
        ty1 = min(ty1, gymax)
    return [tx0, ty0, tx1, ty1]


def get_pos_location(
    cellsize: Sequence[float],
    bbox: Bbox,
    xypos: str = "LLc",
    buffer=None,
    yreverse: bool = True,
) -> tuple[list[float], list[float]]:
    """Per-axis cell-corner coordinates for a bbox (base.py:347-370).

    Returns (idrows, idcols). ``xypos`` shifts the anchor: LLc (default),
    LRc/URc shift x by +width, ULc/URc shift y by +height, CC by half.
    ``yreverse=True`` reverses row order (north-up rasters).
    """
    if xypos not in XYPOS:
        raise ValueError(f"xypos must be one of {XYPOS}, got {xypos!r}")
    height, width = cellsize
    buffy, buffx = buffer if buffer is not None else [0, 0]
    xstart = bbox[0] - buffx
    ystart = bbox[1] - buffy
    xend = bbox[2] + buffx
    yend = bbox[3] + buffy
    xsize, ysize = xend - xstart, yend - ystart
    if xypos in ("LRc", "URc"):
        xstart += width
    if xypos in ("ULc", "URc"):
        ystart += height
    if xypos in ("CC", "centre"):
        xstart += width / 2
        ystart += height / 2
    idrows = [ystart + i * height for i in range(int(math.ceil(ysize / height)))]
    idcols = [xstart + i * width for i in range(int(math.ceil(xsize / width)))]
    if yreverse:
        idrows.reverse()
    return idrows, idcols


def build_from_pos(
    cellsize: Sequence[float], idrows, idcols, xypos: str = "LLc"
) -> list[list[float]]:
    """Cartesian product cols x rows -> cell bboxes, **cols outer, rows
    inner** (base.py:373-388 — ordering pinned by tests). Returns
    [xmin, ymin, xmax, ymax] per cell; in Spark this is
    ``explode(sequence) x explode(sequence)``.
    """
    height, width = cellsize
    if xypos in ("LRc", "URc"):
        idcols = [x - width for x in idcols]
    if xypos in ("ULc", "URc"):
        idrows = [y - height for y in idrows]
    if xypos in ("CC", "centre"):
        idcols = [x - width / 2 for x in idcols]
        idrows = [y - height / 2 for y in idrows]
    return [[x, y, x + width, y + height] for x in idcols for y in idrows]


def align_shape(cellsize: Sequence[float], bbox: Bbox) -> list[int]:
    """(nrows, ncols): the whole cells :func:`align_bbox` snaps ``bbox``
    out to, counted as integers."""
    height, width = cellsize
    xmin, ymin, xmax, ymax = bbox
    return [int((ymax - ymin - TOL_EPS) / height + 1), int((xmax - xmin - TOL_EPS) / width + 1)]


def align_bbox(cellsize: Sequence[float], bbox: Bbox) -> list[float]:
    """Snap a bbox outward so each side is a whole multiple of the cell
    size from the origin-corner (xmin, ymin) — the working core of the
    reference's bbox alignment (base.py:332-344 with TOL_EPS)."""
    height, width = cellsize
    xmin, ymin = bbox[0], bbox[1]
    ny, nx = align_shape(cellsize, bbox)
    return [xmin, ymin, xmin + nx * width, ymin + ny * height]


def align_pos_location(
    cellsize: Sequence[float],
    bbox: Bbox,
    loc: Sequence[float],
    maxsize: float | None = None,
) -> list[float]:
    """G11 (base.py:391-429, LLc anchor): grow ``bbox`` so that a regular
    grid of ``cellsize`` passes exactly through the anchor location(s)
    ``loc`` ((x, y) or (x0, y0, x1, y1)).

    Semantics: each output side is the anchor shifted by a whole number of
    cells, chosen to enclose the bbox (min sides move down/left to
    ``loc - ceil(|loc-bound|/size)*size``; max sides move up/right
    likewise, padded by ``maxsize``)."""
    height, width = cellsize
    if maxsize is None:
        maxsize = max(height, width)
    if len(loc) == 2:
        loc = [loc[0], loc[1], loc[0], loc[1]]
    ceildist = lambda b, p, size: size * math.ceil(abs(b - p) / size)  # noqa: E731
    xmax = max(bbox[2], loc[2] + maxsize)
    ymax = max(bbox[3], loc[3] + maxsize)
    return [
        loc[0] if loc[0] <= bbox[0] else loc[0] - ceildist(loc[0], bbox[0], width),
        loc[1] if loc[1] <= bbox[1] else loc[1] - ceildist(loc[1], bbox[1], height),
        loc[2] + maxsize if loc[2] >= bbox[2] else loc[2] + ceildist(loc[2], xmax, width),
        loc[3] + maxsize if loc[3] >= bbox[3] else loc[3] + ceildist(loc[3], ymax, height),
    ]


def bbox_to_ring(bbox: Bbox, density: int | None = None, buffer: float = 0.0) -> list[tuple[float, float]]:
    """bbox -> closed polygon ring, optionally densified with ``density``
    intermediate vertices per side and buffered outward (G2,
    base.py:237-254). Densification matters when the ring will be
    reprojected; here it feeds WKB mask construction."""
    xmin, ymin, xmax, ymax = bbox
    xmin -= buffer
    ymin -= buffer
    xmax += buffer
    ymax += buffer
    if not density:
        return [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    n = int(density)
    ring: list[tuple[float, float]] = []
    for (x0, y0), (x1, y1) in (
        ((xmin, ymin), (xmax, ymin)),
        ((xmax, ymin), (xmax, ymax)),
        ((xmax, ymax), (xmin, ymax)),
        ((xmin, ymax), (xmin, ymin)),
    ):
        for k in range(n + 1):
            t = k / (n + 1)
            ring.append((x0 + t * (x1 - x0), y0 + t * (y1 - y0)))
    ring.append((xmin, ymin))
    return ring


def tile_assign(
    x: float,
    y: float,
    resolution: float,
    tile_size_cell: int = 128,
    x_origin: float = 0.0,
    y_origin: float = 0.0,
) -> tuple[int, int, int, int]:
    """Reference v1 tile assignment (gridtiler.py:101-112): returns
    (xt, yt, in-tile cx, in-tile cy). ``cx``/``cy`` in [0, tile_size_cell-1]
    for on-grid inputs. The Spark column twin is
    :func:`pygridmap_spark.functions.tiling.with_tile_assignment`."""
    tile_size_m = resolution * tile_size_cell
    xt = int(math.floor((x - x_origin) / tile_size_m))
    yt = int(math.floor((y - y_origin) / tile_size_m))
    cx = int(math.floor((x - x_origin) / resolution - xt * tile_size_cell))
    cy = int(math.floor((y - y_origin) / resolution - yt * tile_size_cell))
    return xt, yt, cx, cy


def agg_cell_assign(x: float, y: float, target_resolution: float) -> tuple[float, float]:
    """Coarsened aggregation-cell key (gridtiler.py:392-393):
    ``xa = R * floor(x / R)``."""
    return (
        target_resolution * math.floor(x / target_resolution),
        target_resolution * math.floor(y / target_resolution),
    )
