"""Point-in-polygon spatial joins — the engine's page-assignment operators
(SURVEY §2.4 J1/J2 re-expressed as indexed equi-joins).

Design principle: **the cell grid is the spatial index**. Regions are
expanded to the integer cells their bboxes cover (JVM `sequence`/`explode`,
distributed); points carry the same unclamped cell key; the join is a
broadcast hash equi-join on (cell_ix, cell_iy) — never a nested-loop scan.
The exact phase is then:

- rects: a residual range predicate (pure Catalyst, codegen),
- WKB polygons: one Arrow pass per polygon row runs the shared quadtree
  classifier (``gridding.classify_blocks``, exact clip areas — the
  reference's coarse short-circuit, gridding.py:146-151) over its cover
  block; interior blocks assign their points with zero geometry work, and
  only points in boundary cells — any cell with a positive clip, however
  small the polygon — run the vectorized numpy ray cast
  (gridding.py:180-182's J2), their polygon's WKB joined back by id.

At 10^12 pages the points side never shuffles: the region side is a
dimension table (countries/NUTS ~10^3-10^5 rows) whose cover-cell explosion
stays broadcastable at a suitably coarse zoom.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators.gridding import (
    ALL_IN,
    BOUNDARY,
    classify_polygons,
    explode_blocks,
    lattice_index,
    lattice_span,
)


def rect_pip_join(
    points: DataFrame,
    rects: DataFrame,
    z: int = 7,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Points x axis-aligned rect regions (inner containment join).
    ``rects`` needs poly_id + (rxmin, rymin, rxmax, rymax). Returns points
    joined with poly_id (half-open [min, max) containment). Points in no
    region are dropped — for kept-with-null semantics, left-anti the result
    back against the points table.

    Plan: rects explode to cover cells at zoom z (distributed, tiny),
    broadcast hash equi-join on the cell key, residual range filter.
    """
    n = float(1 << z)
    lx, ly = (-180.0, 360.0 / n), (-90.0, 180.0 / n)
    pts = points.withColumns(
        {"__cix__": lattice_index(F.col(lon), *lx), "__ciy__": lattice_index(F.col(lat), *ly)}
    )
    (ix0, ix1), (iy0, iy1) = (
        lattice_span(F.col("rxmin"), F.col("rxmax"), *lx),
        lattice_span(F.col("rymin"), F.col("rymax"), *ly),
    )
    blocks = rects.withColumns({"__ix0__": ix0, "__iy0__": iy0, "__ix1__": ix1, "__iy1__": iy1})
    cover = explode_blocks(blocks, "__cix__", "__ciy__")
    joined = pts.join(F.broadcast(cover), ["__cix__", "__ciy__"])
    out = joined.filter(
        (F.col(lon) >= F.col("rxmin"))
        & (F.col(lon) < F.col("rxmax"))
        & (F.col(lat) >= F.col("rymin"))
        & (F.col(lat) < F.col("rymax"))
    )
    return out.drop("__cix__", "__ciy__", "rxmin", "rymin", "rxmax", "rymax")


def polygon_pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    z: int = 7,
    lon: str = "lon",
    lat: str = "lat",
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
) -> DataFrame:
    """Points x WKB polygon layer (inner join, exact even-odd PIP).

    1. one Arrow pass over the polygons runs ``classify_blocks`` over each
       row's cover block and emits (block, poly, class) rows — the WKB
       does not ride the cover-cell replication,
    2. blocks explode to cells in the JVM and broadcast-join the points on
       the unclamped cell key (NULL/NaN coordinates get no key and drop),
    3. interior cells pass through with zero geometry work; boundary
       candidates broadcast-join the raw WKB back by polygon id and run
       the vectorized ray cast, decoding once per polygon per batch.
       The points side never shuffles.

    Lazy: no job runs before the caller's action. ``spark`` is unused and
    kept for signature compatibility.
    """
    n = float(1 << z)
    origin, lattice = (-180.0, -90.0), (180.0 / n, 360.0 / n)

    def _cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [
                (*b, pid)
                for pid, _, blocks in classify_polygons(batch[poly_key], batch[geometry_col], origin, lattice)
                for *b, _ in blocks
            ]
            yield pd.DataFrame(
                rows, columns=["__ix0__", "__iy0__", "__ix1__", "__iy1__", "__cls__", poly_key]
            )

    key_type = dict(polygons.dtypes)[poly_key]
    blocks = polygons.select(poly_key, geometry_col).mapInPandas(
        _cover,
        f"__ix0__ long, __iy0__ long, __ix1__ long, __iy1__ long, __cls__ int, {poly_key} {key_type}",
    )
    cover = explode_blocks(blocks, "__cix__", "__ciy__")
    # NaN -> NULL, so NULL/NaN points get no key and drop from the join.
    # A plain null-intolerant key keeps the join's inferred not-null filter
    # a pair of null checks (a CASE WHEN key re-evaluates the coordinate
    # expressions per branch — a per-row sha256 when they come from urls)
    x, y = (F.nanvl(F.col(c), F.lit(None).cast("double")) for c in (lon, lat))
    pts = points.withColumns(
        {"__cix__": lattice_index(x, origin[0], lattice[1]), "__ciy__": lattice_index(y, origin[1], lattice[0])}
    )
    cand = pts.join(F.broadcast(cover), ["__cix__", "__ciy__"])
    interior = cand.filter(F.col("__cls__") == ALL_IN)
    # WKB fetched by id for BOUNDARY candidates only — each geometry ships
    # once through this broadcast instead of once per cover cell above
    boundary = cand.filter(F.col("__cls__") == BOUNDARY).join(
        F.broadcast(polygons.select(poly_key, F.col(geometry_col).alias("__wkb__"))), poly_key
    )
    schema = interior.schema

    def _exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for batch in batches:
            if not len(batch):
                continue
            px = batch[lon].to_numpy(dtype=np.float64)
            py = batch[lat].to_numpy(dtype=np.float64)
            pids = batch[poly_key].to_numpy()
            keep = np.zeros(len(batch), dtype=bool)
            for pid in np.unique(pids):
                sel = np.nonzero(pids == pid)[0]
                mp = cache.get(pid)
                if mp is None:
                    mp = wkb.decode_multipolygon(bytes(batch["__wkb__"].iloc[sel[0]]))
                    if len(cache) < 4096:
                        cache[pid] = mp
                keep[sel] = G.points_in_multipolygon(px[sel], py[sel], mp)
            yield batch[keep].drop(columns=["__wkb__"])

    exact = boundary.mapInPandas(_exact, schema)
    return interior.unionByName(exact).drop("__cix__", "__ciy__", "__cls__")
