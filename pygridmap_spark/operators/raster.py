"""Raster <-> vector operators over dense cell DataFrames (SURVEY §2.9).

The reference reads rasters windowed with rasterio (gridtiler_raster.py:
61-90) and joins bands cell-wise (:97-119); rasterio is absent here and the
engine's representation is the ingested form the SURVEY prescribes anyway:
a dense DataFrame (col:int, row:int, band_*:double) where the windowed read
becomes partition pruning. Pinned semantics:

- y-flip: raster row 0 is the TOP row; cell y index = height-1-row
  (gridtiler_raster.py:73's min_row = height-(yt+1)*ts convention),
- nodata filter (gridtiler_raster.py:104, 315),
- multi-raster cell join on (col, row) = full outer equi-join (J9),
- resample-to-coarser = grid_aggregation on the coarsened key (A5/G13),
- point sampling (S6) = equi-join of computed (col, row) keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygridmap_spark.operators import tiler


def synthetic_raster(
    spark: SparkSession,
    width: int,
    height: int,
    band: str = "band1",
    nodata_every: int | None = None,
    value_expr=None,
) -> DataFrame:
    """Deterministic dense raster: value = f(col, row) (default
    col + row*width); every ``nodata_every``-th cell null (the ingested
    form of a nodata pixel)."""
    df = (
        spark.range(width)
        .select(F.col("id").cast("int").alias("col"))
        .crossJoin(spark.range(height).select(F.col("id").cast("int").alias("row")))
    )
    val = value_expr if value_expr is not None else (F.col("col") + F.col("row") * width).cast("double")
    if nodata_every:
        val = F.when(
            (F.col("col") + F.col("row") * width) % nodata_every == 0, F.lit(None)
        ).otherwise(val)
    return df.withColumn(band, val)


def with_cell_coords(
    raster: DataFrame,
    height: int,
    x0: float = 0.0,
    y0: float = 0.0,
    resolution: float = 1.0,
) -> DataFrame:
    """Raster pixel indices -> grid cell lower-left coords, with the y-flip
    (row 0 = top)."""
    return raster.withColumns(
        {
            "x": F.lit(x0) + F.col("col") * F.lit(resolution),
            "y": F.lit(y0) + (F.lit(height - 1) - F.col("row")) * F.lit(resolution),
        }
    )


def join_bands(rasters: Sequence[DataFrame]) -> DataFrame:
    """Multi-raster cell join (J9): full outer equi-join on (col, row) so a
    cell exists if ANY band has data (gridtiler_raster.py:97-119)."""
    out = rasters[0]
    for r in rasters[1:]:
        out = out.join(r, ["col", "row"], "full_outer")
    return out


def filter_nodata(raster: DataFrame, band: str, nodata: float | None = None, no_data_values: Sequence[float] = ()) -> DataFrame:
    """Nodata filter (F3): drop null, the nodata sentinel, and any extra
    sentinel values."""
    cond = F.col(band).isNotNull()
    if nodata is not None:
        cond = cond & (F.col(band) != F.lit(nodata))
    for v in no_data_values:
        cond = cond & (F.col(band) != F.lit(v))
    return raster.filter(cond)


def resample_to_grid(
    raster_with_xy: DataFrame,
    resolution: float,
    a: int,
    aggregation_fun=None,
) -> DataFrame:
    """Raster -> coarser vector grid: the multi-resolution roll-up (A5)
    applied to raster cells — one hash aggregate."""
    df = raster_with_xy.drop("col", "row")
    return tiler.grid_aggregation(df, resolution, a, aggregation_fun)


def resample_generic(
    out_grid: DataFrame,
    rasters: dict[str, tuple[DataFrame, int, float, float, float]],
    x: str = "x",
    y: str = "y",
    resolution_out: float = 1.0,
) -> DataFrame:
    """T4 (gridtiler_raster.py:223-437): resample arbitrary (differently
    gridded) rasters onto an output grid by sampling each raster at the
    output cell CENTRE. ``rasters`` maps band name -> (raster_df, height,
    x0, y0, resolution). All-null bands are dropped (the reference's
    :339-347 check), as one post-agg pass."""
    from pyspark.sql import functions as F

    centres = out_grid.withColumns(
        {
            "__cx__": F.col(x) + resolution_out / 2.0,
            "__cy__": F.col(y) + resolution_out / 2.0,
        }
    )
    out = centres
    for band, (rdf, height, x0, y0, res) in rasters.items():
        keyed = out.withColumns(
            {
                "col": F.floor((F.col("__cx__") - F.lit(x0)) / F.lit(res)).cast("int"),
                "row": (
                    F.lit(height - 1)
                    - F.floor((F.col("__cy__") - F.lit(y0)) / F.lit(res))
                ).cast("int"),
            }
        )
        out = keyed.join(rdf.select("col", "row", band), ["col", "row"], "left").drop(
            "col", "row"
        )
    out = out.drop("__cx__", "__cy__").persist()
    # all-null-band probe reads the persisted result, so the caller's first
    # action does not recompute the whole multi-raster join chain
    nonnull = out.agg(*[F.count(b).alias(b) for b in rasters]).collect()[0]
    dead = [b for b in rasters if nonnull[b] == 0]
    return out.drop(*dead)


def sample_at_points(
    points: DataFrame,
    raster: DataFrame,
    height: int,
    x0: float = 0.0,
    y0: float = 0.0,
    resolution: float = 1.0,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Point sampling (S6): compute each point's (col, row) and equi-join
    the raster — the reference's src.index(xc, yc) with bounds semantics
    (out-of-raster points get null bands via left join)."""
    keyed = points.withColumns(
        {
            "col": F.floor((F.col(x) - F.lit(x0)) / F.lit(resolution)).cast("int"),
            "row": (
                F.lit(height - 1)
                - F.floor((F.col(y) - F.lit(y0)) / F.lit(resolution))
            ).cast("int"),
        }
    )
    return keyed.join(raster, ["col", "row"], "left")


def zonal_stats(
    raster: DataFrame,
    polygons: DataFrame,
    bands: Sequence[str] = ("band1",),
    height: int | None = None,
    x0: float = 0.0,
    y0: float = 0.0,
    resolution: float | None = None,
    geometry_col: str = "geometry",
    poly_key: str = "poly_id",
    z: int = 7,
) -> DataFrame:
    """Per-polygon band statistics (count/sum/mean/min/max) — the classic
    raster->vector zonal aggregation. Cell membership is by CELL CENTER
    (standard zonal semantics): pixel centers run through
    ``spatialjoin.polygon_pip_join`` (one branch: interior cover cells
    assign with zero geometry work, boundary pixels get the exact ray
    cast, and only the center coordinates, polygon key and WKB cross into
    Python — the bands stay in the JVM; no polygon collect), then one
    groupBy(poly).
    Nodata pixels (null band) are excluded from the stats per band.

    ``height`` converts (col, row) to coords when the raster doesn't
    already carry x/y (with_cell_coords semantics, y-flip included).
    ``resolution`` defaults to 1.0 on that conversion path; when the raster
    ALREADY carries x/y, an unspecified resolution is inferred from the data
    (min positive spacing of distinct x values — one tiny width-sized agg)
    instead of silently assuming 1.0, which would mis-offset pixel centers
    and flip membership for boundary pixels of any non-unit raster.
    ``z`` is the PIP join's cover-cell zoom (360/2^z x 180/2^z coordinate
    units, anchored at (-180, -90)); any finite coordinates join exactly,
    the zoom only sets how many pixels need the ray cast."""
    from pygridmap_spark.operators import spatialjoin as SJ

    cells = raster
    if "x" not in cells.columns or "y" not in cells.columns:
        if height is None:
            raise ValueError("height required when the raster has no x/y columns")
        if resolution is None:
            resolution = 1.0
        cells = with_cell_coords(cells, height, x0, y0, resolution)
    elif resolution is None:
        import numpy as np

        # distinct x values are width-sized (10^5 at continental rasters):
        # collect and diff driver-side — no global window, no Spark
        # single-partition warning. Guarded: above 2M distinct columns the
        # collect would balloon the driver, so inference refuses and asks
        # for an explicit resolution instead. CAVEAT: the min positive gap
        # equals the true pixel pitch only when at least one pair of
        # ADJACENT columns is present; a regularly decimated raster (only
        # even columns) infers a multiple of the pitch — pass resolution=
        # explicitly for subsampled/masked data.
        distinct_x = cells.select(F.col("x").cast("double")).distinct()
        # guard + fetch in ONE job: over-fetch by one row past the cap
        rows = distinct_x.limit(2_000_001).collect()
        if len(rows) > 2_000_000:
            raise ValueError(
                "zonal_stats: more than 2M distinct x values is beyond "
                "driver-side resolution inference — pass resolution= "
                "explicitly"
            )
        xs = np.sort(np.array([r[0] for r in rows], dtype=np.float64))
        gaps = np.diff(xs)
        gaps = gaps[gaps > 0]
        if not len(gaps):
            raise ValueError(
                "cannot infer raster resolution (a single distinct x); "
                "pass resolution= explicitly"
            )
        resolution = float(gaps.min())
    centers = cells.withColumns(
        {
            "_cx": F.col("x") + F.lit(resolution / 2.0),
            "_cy": F.col("y") + F.lit(resolution / 2.0),
        }
    )
    # bands are POINT-side columns: they flow through the PIP join as-is
    joined = SJ.polygon_pip_join(
        centers.sparkSession, centers, polygons, z=z, lon="_cx", lat="_cy",
        geometry_col=geometry_col, poly_key=poly_key,
    )
    aggs = []
    for b in bands:
        aggs += [
            F.count(b).alias(f"{b}_count"),
            F.sum(b).alias(f"{b}_sum"),
            F.avg(b).alias(f"{b}_mean"),
            F.min(b).alias(f"{b}_min"),
            F.max(b).alias(f"{b}_max"),
        ]
    return joined.groupBy(poly_key).agg(*aggs)
