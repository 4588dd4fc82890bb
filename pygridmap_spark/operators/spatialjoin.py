"""Point-in-polygon spatial joins — the engine's page-assignment operators
(SURVEY §2.4 J1/J2 re-expressed as indexed equi-joins).

Design principle: **the cell grid is the spatial index**. Regions are
expanded to the integer cells their bboxes cover (JVM `sequence`/`explode`,
distributed); points carry the same unclamped cell key; the join is a
broadcast hash equi-join on (cell_ix, cell_iy) — never a nested-loop scan.
The exact phase is then:

- rects: a residual range predicate (pure Catalyst, codegen),
- WKB polygons: one Arrow pass per polygon row runs the shared quadtree
  classifier (``gridding.classify_blocks`` on the vectorized rect-coverage
  kernel — the reference's coarse short-circuit, gridding.py:146-151) over
  its cover block. The candidates then run one branch: points in boundary
  cells — any cell with a positive covered area, however small the
  polygon — get their polygon's WKB by a broadcast left join on the id,
  and one scalar pandas UDF (Spark's ArrowEvalPython) passes interior
  candidates (NULL WKB) with zero geometry work and ray-casts the rest
  (gridding.py:180-182's J2).
  Only its four argument columns cross into Python, and every input is
  read once per action.

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
    BLOCK_COLS,
    BOUNDARY,
    classify_polygons,
    explode_blocks,
    lattice_index,
    lattice_span,
)

# polygon_pip_join's temporaries: cell key, cover class, joined-back key and WKB
_TEMPS = ("__cix__", "__ciy__", "__cls__", "__pk__", "__wkb__")


def _cell_join(points: DataFrame, cover: DataFrame) -> DataFrame:
    """Broadcast hash join of the points on the cover's cell key
    ``(__cix__, __ciy__)``, compared null-safely: an equi-join makes
    Catalyst infer ``isnotnull(key)`` and push it below the points'
    projection, where it recomputes the coordinate chain (a sha256 per
    page when they derive from urls) in a scan filter. Cover keys are never
    NULL, so a NULL point key still matches nothing. Both key pairs stay
    in the output; drop them by name."""
    cix, ciy = (points[c].eqNullSafe(cover[c]) for c in ("__cix__", "__ciy__"))
    return points.join(F.broadcast(cover), cix & ciy)


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
    joined = _cell_join(pts, cover)
    # coalesce: a null-intolerant predicate would infer isnotnull(lon/lat)
    # too, pushed to the points' source like the key's
    inside = (
        (F.col(lon) >= F.col("rxmin"))
        & (F.col(lon) < F.col("rxmax"))
        & (F.col(lat) >= F.col("rymin"))
        & (F.col(lat) < F.col("rymax"))
    )
    out = joined.filter(F.coalesce(inside, F.lit(False)))
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
       does not ride the cover-cell replication; NULL and empty
       geometries get no cells, and a cover block more than 4 times wider
       than the world lattice at ``z`` (coordinates that are not lon/lat)
       fails the action with a ValueError naming the polygon,
    2. blocks explode to cells in the JVM and broadcast-join the points on
       the unclamped cell key, null-safely so no filter recomputes the
       coordinates (NULL/NaN coordinates get a NULL key and drop),
    3. boundary candidates left-join the broadcast (poly_key, WKB) — each
       geometry ships once, interior candidates get a NULL WKB,
    4. one scalar pandas UDF filters every candidate: True on a NULL WKB,
       else the vectorized ray cast, decoding once per polygon per batch.
       Only (lon, lat, poly_key, WKB) cross into Python; the point payload
       stays in the JVM, and the points side never shuffles.

    Lazy: no job runs before the caller's action. ``spark`` is unused and
    kept for signature compatibility. ``points`` must not carry
    ``poly_key`` or the join's temporaries (ValueError).
    """
    clash = [c for c in (poly_key, *_TEMPS) if c in points.columns]
    if clash:
        raise ValueError(f"points already has a {clash[0]!r} column; rename it")
    n = float(1 << z)
    origin, lattice = (-180.0, -90.0), (180.0 / n, 360.0 / n)

    def _cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            # a cover 4x wider than the world lattice is not lon/lat: refuse
            # it before its cells explode (metre coordinates at z=14: ~1e14
            # cells). The slack keeps polygons a little past +-180 working.
            frames = [
                blocks.drop(columns="__area__").assign(**{poly_key: pid})
                for pid, _, blocks in classify_polygons(
                    batch[poly_key], batch[geometry_col], origin, lattice, max_span=4 << z
                )
            ]
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(columns=[*BLOCK_COLS, "__cls__", poly_key])
            )

    def _inside(x: pd.Series, y: pd.Series, pid: pd.Series, buf: pd.Series) -> pd.Series:
        bufs = buf.to_numpy()
        keep = pd.isna(bufs)  # NULL WKB: an interior cell's candidate
        rest = np.flatnonzero(~keep)
        px, py = x.to_numpy(dtype=np.float64)[rest], y.to_numpy(dtype=np.float64)[rest]
        codes, pids = pd.factorize(pid.to_numpy()[rest], use_na_sentinel=False)
        for k in range(len(pids)):
            sel = np.flatnonzero(codes == k)
            mp = wkb.decode_multipolygon(bytes(bufs[rest[sel[0]]]))
            keep[rest[sel]] = G.points_in_multipolygon(px[sel], py[sel], mp)
        return pd.Series(keep)

    key_type = dict(polygons.dtypes)[poly_key]
    blocks = polygons.select(poly_key, geometry_col).mapInPandas(
        _cover,
        f"__ix0__ long, __iy0__ long, __ix1__ long, __iy1__ long, __cls__ int, {poly_key} {key_type}",
    )
    cover = explode_blocks(blocks, "__cix__", "__ciy__")
    # NaN -> NULL, so NULL/NaN points get a NULL key and match no cell
    x, y = (F.nanvl(F.col(c), F.lit(None).cast("double")) for c in (lon, lat))
    pts = points.withColumns(
        {"__cix__": lattice_index(x, origin[0], lattice[1]), "__ciy__": lattice_index(y, origin[1], lattice[0])}
    )
    cand = _cell_join(pts, cover)
    # null-safe: a NULL-key polygon's boundary candidates get its WKB too
    geoms = F.broadcast(polygons.select(F.col(poly_key).alias("__pk__"), F.col(geometry_col).alias("__wkb__")))
    cand = cand.join(geoms, F.col(poly_key).eqNullSafe(F.col("__pk__")) & (F.col("__cls__") == BOUNDARY), "left")
    inside = F.pandas_udf(_inside, "boolean")
    return cand.filter(inside(lon, lat, poly_key, "__wkb__")).drop(*_TEMPS)
