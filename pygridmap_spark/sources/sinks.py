"""Tiled sinks: partitioned parquet/csv tile trees + info.json sidecar.

Reproduces the reference tiler's output contract (gridtiler.py:124-166):
one file subtree per (xt, yt) and an ``info.json`` carrying crs /
tileSizeCell / originPoint / resolutionGeo / tilingBounds — but written as
ONE distributed ``write.partitionBy("xt","yt")`` instead of a per-row
append loop, with the bounds observed on that write (gridtiler.py:104-108's
running extremes become an ``Observation`` of min/max xt/yt — no job reads
the tree back).

At 100 TB scale the partitionBy write is the shuffle-free path: tile columns
are already computed, so each task writes its partitions directly; for
many-tiles-per-task layouts callers can pre-``repartition("xt","yt")`` to
get file-per-tile clustering (exposed via ``cluster=True``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pygridmap_spark.core import fsio


def write_tiles(
    df: DataFrame,
    output_folder: str,
    resolution: float,
    tile_size_cell: int = 128,
    x_origin: float = 0.0,
    y_origin: float = 0.0,
    crs: str = "",
    format: str = "parquet",
    parquet_compression: str = "snappy",
    mode: str = "overwrite",
    cluster: bool = True,
    coarsen: int = 0,
) -> dict:
    """Write df (already carrying xt/yt) as a tile tree; returns the
    info.json dict (also written to ``output_folder/info.json``).

    The tiling bounds are observed on the write itself (a
    ``pyspark.sql.Observation`` of min/max xt/yt), so the pipeline runs
    once and no job reads the tree back. An empty input gives null bounds.
    With ``mode='append'`` the bounds also cover the tiles the existing
    ``info.json`` records. ``mode='ignore'`` over an existing folder writes
    no tiles (Spark skips the write, so nothing is observed) and keeps the
    existing ``info.json``'s bounds.

    ``coarsen=k`` partitions by super-tiles ``(xt >> k, yt >> k)`` with the
    rows sorted by (xt, yt) inside each file — the escape hatch for sparse
    globe-spanning data where per-tile directories would explode (readers
    still prune to 4^-k of the data on a tile predicate, then min/max
    row-group stats on the sorted xt/yt finish the job)."""
    out = df
    if coarsen > 0:
        out = out.withColumns(
            {
                "xt_super": F.shiftright(F.col("xt"), coarsen),
                "yt_super": F.shiftright(F.col("yt"), coarsen),
            }
        )
        part_cols = ["xt_super", "yt_super"]
        out = out.repartition(*part_cols).sortWithinPartitions("xt", "yt")
    else:
        part_cols = ["xt", "yt"]
        if cluster:
            out = out.repartition(*part_cols)
    if format not in ("parquet", "csv"):
        raise ValueError(f"unsupported tile format {format!r}")
    spark = df.sparkSession
    info_path = fsio.join(output_folder, "info.json")
    skip = mode == "ignore" and fsio.exists(spark, output_folder)
    old = (
        json.loads(fsio.read_text(spark, info_path))["tilingBounds"]
        if (mode == "append" or skip) and fsio.exists(spark, info_path)
        else {}
    )
    if format == "csv":
        # reference contract: integral doubles render as '12', not '12.0'
        # (gridtiler.py round_floats_to_ints applied to every cell value)
        from pygridmap_spark.functions import tiling as _tiling

        part_set = set(part_cols)
        out = out.select(
            *[
                _tiling.floats_to_ints(F.col(c)).alias(c)
                if t in ("double", "float") and c not in part_set
                else F.col(c)
                for c, t in out.dtypes
            ]
        )
    new = {}
    if not skip:  # over an existing path, 'ignore' runs no query to observe
        # observed on the written rows: below an exchange, an empty input's
        # stage is optimised away with the metrics node and the row is empty
        bounds = Observation()
        out = out.observe(
            bounds, F.min("xt").alias("xMin"), F.max("xt").alias("xMax"),
            F.min("yt").alias("yMin"), F.max("yt").alias("yMax"),
        )
        writer = out.write.mode(mode).partitionBy(*part_cols)
        if format == "parquet":
            writer.option("compression", parquet_compression).parquet(output_folder)
        else:
            writer.option("header", True).csv(output_folder)
        new = bounds.get

    def _merged(key: str, pick):
        vals = [v for v in (new.get(key), old.get(key)) if v is not None]
        return pick(vals) if vals else None

    info = {
        "dims": [],
        "crs": crs,
        "tileSizeCell": tile_size_cell,
        "originPoint": {"x": x_origin, "y": y_origin},
        "resolutionGeo": resolution,
        "tilingBounds": {
            "yMin": _merged("yMin", min),
            "yMax": _merged("yMax", max),
            "xMax": _merged("xMax", max),
            "xMin": _merged("xMin", min),
        },
    }
    fsio.mkdirs(spark, output_folder)
    fsio.write_text(spark, info_path, json.dumps(info, indent=3))
    return info


def read_tiles(spark, folder: str, format: str = "parquet") -> DataFrame:
    """Read a tile tree back; (xt, yt) partition columns are restored and
    partition-pruned on filter (the reference's windowed tile read S5)."""
    # pathGlobFilter skips the info.json sidecar living inside the tree
    if format == "parquet":
        return spark.read.option("pathGlobFilter", "*.parquet").parquet(folder)
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("pathGlobFilter", "*.csv")
        .csv(folder)
    )


def read_info(folder: str, spark: SparkSession | None = None) -> dict:
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        return json.loads(fsio.read_text(spark, fsio.join(folder, "info.json")))
    with open(os.path.join(folder, "info.json")) as fh:  # no session: local only
        return json.load(fh)


def read_geoparquet(spark, path: str) -> DataFrame:
    """Read a GeoParquet table: a plain distributed parquet scan, plus a
    driver-side peek (pyarrow, one footer) at the spec's ``geo`` file
    metadata to discover the primary geometry column and its CRS, which is
    attached via the engine's CRS metadata convention
    (:mod:`pygridmap_spark.core.crs`) so mixed-CRS overlays raise. Files
    without ``geo`` metadata read fine with no CRS declared."""
    import glob as _glob
    import os as _os

    from pygridmap_spark.core import crs as _crs

    df = spark.read.parquet(path)
    meta = None
    try:
        import pyarrow.parquet as pq

        cand = sorted(_glob.glob(_os.path.join(path, "*.parquet"))) or [path]
        kv = pq.read_schema(cand[0]).metadata or {}
        raw = kv.get(b"geo")
        meta = json.loads(raw.decode("utf-8")) if raw else None
    except Exception:
        meta = None  # local-footer peek is best-effort; scan still works
    if meta:
        primary = meta.get("primary_column")
        col_meta = (meta.get("columns") or {}).get(primary or "", {})
        crs_val = col_meta.get("crs")
        # GeoParquet crs is PROJJSON (dict) or None (= OGC:CRS84)
        if isinstance(crs_val, dict):
            ident = crs_val.get("id") or {}
            if ident.get("authority") and ident.get("code") is not None:
                crs_val = f"{ident['authority']}:{ident['code']}"
            else:
                crs_val = crs_val.get("name")
        elif crs_val is None and primary:
            crs_val = "OGC:CRS84"
        if primary and primary in df.columns and crs_val:
            df = _crs.with_crs(df, crs_val, geometry_col=primary)
    return df


def read_grid_csv(spark, path: str, delimiter: str = ",") -> DataFrame:
    """S1/S2: CSV grid scan (one row per cell, x/y = lower-left corner).
    Header + schema inference, matching the reference's DictReader intake
    (gridtiler.py:87-92) but as one distributed scan."""
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("sep", delimiter)
        .csv(path)
    )


def csv_to_parquet(spark, folder: str, compression: str = "snappy") -> None:
    """S4 (gridtiler.py:279-300): rewrite a CSV tile tree as parquet in
    place. In Spark you normally write parquet directly; this exists for
    tile trees produced elsewhere."""
    df = read_tiles(spark, folder, format="csv")
    tmp = folder.rstrip("/") + "__pq"
    df.repartition("xt", "yt").write.mode("overwrite").partitionBy("xt", "yt").option(
        "compression", compression
    ).parquet(tmp)
    info = fsio.join(folder, "info.json")
    info_data = fsio.read_text(spark, info) if fsio.exists(spark, info) else None
    # swap via a checked rename chain — the original tree is deleted only
    # AFTER the new tree holds its place (Hadoop rename returns False
    # instead of throwing; an unchecked False after a delete loses data)
    old = folder.rstrip("/") + "__old"
    if not fsio.rename(spark, folder, old):
        raise IOError(f"csv_to_parquet: could not move {folder!r} aside to {old!r}")
    if not fsio.rename(spark, tmp, folder):
        fsio.rename(spark, old, folder)  # roll back
        raise IOError(f"csv_to_parquet: could not move {tmp!r} into place")
    fsio.delete(spark, old)
    if info_data is not None:
        fsio.write_text(spark, fsio.join(folder, "info.json"), info_data)


def export_reference_layout(
    folder: str, file_extension: str | None = None, spark: SparkSession | None = None
) -> int:
    """Restructure a hive-partitioned tile tree (xt=<v>/yt=<v>/part-*.ext)
    into the reference tiler's exact file contract ``<xt>/<yt>.<ext>``
    (gridtiler.py:124-144: one file per tile, folder per xt). Driver-side
    rename pass over the already-written tree (Hadoop FS API — works on
    object stores too, though s3 renames are copies); returns #tiles moved.

    Requires cluster=True writes (one part file per tile). GridViz and other
    reference-layout consumers read the result directly."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("export_reference_layout needs an active SparkSession")
    moved = 0
    for xt_dir in sorted(fsio.list_names(spark, folder)):
        if not xt_dir.startswith("xt="):
            continue
        xt = xt_dir.split("=", 1)[1]
        for yt_dir in sorted(fsio.list_names(spark, fsio.join(folder, xt_dir))):
            if not yt_dir.startswith("yt="):
                continue
            yt = yt_dir.split("=", 1)[1]
            src_dir = fsio.join(folder, xt_dir, yt_dir)
            parts = [f for f in fsio.list_names(spark, src_dir) if f.startswith("part-")]
            if not parts:
                continue
            if len(parts) > 1:
                raise ValueError(
                    f"tile ({xt},{yt}) has {len(parts)} part files; "
                    "write with cluster=True for one file per tile"
                )
            ext = file_extension or parts[0].rsplit(".", 1)[-1]
            fsio.mkdirs(spark, fsio.join(folder, xt))
            dst = fsio.join(folder, xt, f"{yt}.{ext}")
            if not fsio.rename(spark, fsio.join(src_dir, parts[0]), dst):
                raise IOError(
                    f"export_reference_layout: rename of tile ({xt},{yt}) to {dst!r} failed"
                )
            moved += 1
        fsio.delete(spark, fsio.join(folder, xt_dir))
    return moved


def write_spatially_clustered(
    df: DataFrame,
    path: str,
    zoom: int = 10,
    lon: str = "lon",
    lat: str = "lat",
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
    curve: str = "morton",
) -> None:
    """Write parquet Z-order-clustered on the Morton cell key.

    ``repartitionByRange`` + ``sortWithinPartitions`` on the interleaved
    Morton code places spatially-near rows in the same file/row group, so
    every row group's (lon, lat) min/max statistics become TIGHT — a bbox
    predicate then skips most row groups at scan time (parquet row-group
    pruning + Spark's PushedFilters). On an unsorted layout the stats span
    the globe and nothing prunes. This is the standard lakehouse Z-order
    layout (Delta OPTIMIZE ZORDER / Iceberg sort orders) expressed with
    plain Spark primitives; the Morton column itself is dropped from the
    written schema."""
    from pygridmap_spark.functions import cellindex as CI

    if curve == "morton":
        keyed = df.withColumn("__zorder__", CI.cell_id(F.col(lon), F.col(lat), zoom))
    elif curve == "hilbert":
        # tighter locality (every consecutive key is an adjacent cell —
        # no Morton quadrant jumps) at the cost of an Arrow kernel pass
        keyed = CI.with_hilbert_index(df, zoom, lon=lon, lat=lat).withColumnRenamed(
            "hilbert_d", "__zorder__"
        )
        # repartitionByRange's boundary-sampling job would re-execute the
        # full-row Arrow kernel; checkpoint so sampling + write share one
        # materialization (the Morton branch is a cheap Catalyst expr)
        keyed = keyed.localCheckpoint(eager=False)
    else:
        raise ValueError(f"curve must be 'morton' or 'hilbert', got {curve!r}")
    # explicit partition count: without it AQE coalesces small range
    # partitions into one file and the clustering yields a single row
    # group with globe-spanning stats (observed). At scale, size so each
    # file is ~1 GB; row groups inside stay tight because the file is
    # fully sorted.
    if num_files is not None and num_files < 1:
        raise ValueError(f"num_files must be >= 1, got {num_files}")
    n_files = (
        num_files
        if num_files is not None
        else keyed.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    (
        keyed.repartitionByRange(int(n_files), "__zorder__")
        .sortWithinPartitions("__zorder__")
        .drop("__zorder__")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def read_tiles_window(
    spark, folder: str, bbox, format: str = "parquet"
) -> DataFrame:
    """Windowed tile read (S5): scan only the tiles intersecting ``bbox``
    (xmin, ymin, xmax, ymax in grid coordinates). Tile ranges are computed
    from the tree's own info.json (origin + resolution x tileSizeCell) and
    applied as xt/yt predicates — on the hive-partitioned tree these are
    PartitionFilters, so non-window tiles are never even listed."""
    import math

    info = read_info(folder, spark)
    tile_span = info["resolutionGeo"] * info["tileSizeCell"]
    ox, oy = info["originPoint"]["x"], info["originPoint"]["y"]
    xmin, ymin, xmax, ymax = bbox
    xt0 = int(math.floor((xmin - ox) / tile_span))
    xt1 = int(math.ceil((xmax - ox) / tile_span)) - 1
    yt0 = int(math.floor((ymin - oy) / tile_span))
    yt1 = int(math.ceil((ymax - oy) / tile_span)) - 1
    df = read_tiles(spark, folder, format)
    return df.filter(
        (F.col("xt") >= xt0) & (F.col("xt") <= xt1)
        & (F.col("yt") >= yt0) & (F.col("yt") <= yt1)
    )
