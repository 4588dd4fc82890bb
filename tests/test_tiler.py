"""M4: tiler operators — grid_tiling write path (v1 semantics), info.json,
grid_transformation row-dropping, grid_aggregation rule goldens incl.
null/empty skipping (reference gridtiler.py:101-118, 306-346, 460-534)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.operators import tiler as TL
from pygridmap_spark.sources import sinks


@pytest.fixture()
def cells_df(spark):
    rows = [
        # x, y, pop, cat — includes negative coords and tile-edge values
        (0.0, 0.0, 1.0, "a"),
        (127_999.0, 127_999.0, 2.0, "b"),
        (128_000.0, 0.0, 3.0, "c"),
        (-1.0, -1.0, 4.0, "d"),
        (5_000.0, 130_000.0, None, "e"),
    ]
    return spark.createDataFrame(rows, "x double, y double, pop double, cat string")


def test_grid_tiling_v1_semantics(spark, tmp_path, cells_df):
    out_dir = str(tmp_path / "tiles")
    info = TL.grid_tiling(cells_df, out_dir, resolution=1000.0, tile_size_cell=128)
    # v1 goldens (core.bboxes.tile_assign pinned): bounds from the extremes
    assert info["tilingBounds"] == {"yMin": -1, "yMax": 1, "xMax": 1, "xMin": -1}
    assert info["resolutionGeo"] == 1000.0 and info["tileSizeCell"] == 128
    back = sinks.read_tiles(spark, out_dir).collect()
    by_cat = {r["cat"]: r for r in back}
    assert (by_cat["a"]["xt"], by_cat["a"]["yt"], by_cat["a"]["x"], by_cat["a"]["y"]) == (0, 0, 0, 0)
    assert (by_cat["b"]["xt"], by_cat["b"]["yt"], by_cat["b"]["x"], by_cat["b"]["y"]) == (0, 0, 127, 127)
    assert (by_cat["c"]["xt"], by_cat["c"]["yt"], by_cat["c"]["x"], by_cat["c"]["y"]) == (1, 0, 0, 0)
    assert (by_cat["d"]["xt"], by_cat["d"]["yt"], by_cat["d"]["x"], by_cat["d"]["y"]) == (-1, -1, 127, 127)
    # y recentred with y_origin (v2 bug NOT reproduced): yt=1, cy=2
    assert (by_cat["e"]["yt"], by_cat["e"]["y"]) == (1, 2)
    # file layout: xt=... / yt=... partition dirs + info.json sidecar
    assert os.path.exists(os.path.join(out_dir, "info.json"))
    assert any(d.startswith("xt=") for d in os.listdir(out_dir))


def test_grid_tiling_csv_format(spark, tmp_path, cells_df):
    out_dir = str(tmp_path / "tiles_csv")
    TL.grid_tiling(cells_df.fillna({"pop": 0.0}), out_dir, resolution=1000.0, format="csv")
    back = sinks.read_tiles(spark, out_dir, format="csv")
    assert back.count() == 5


def test_grid_transformation_drops_rows(spark, cells_df):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[pdf["pop"].notna() & (pdf["pop"] < 4.0)].copy()
        out["pop"] = out["pop"] * 10
        return out

    got = TL.grid_transformation(cells_df, fn, cells_df.schema).collect()
    assert sorted(r["pop"] for r in got) == [10.0, 20.0, 30.0]


def test_grid_aggregation_rules_and_null_skipping(spark):
    # 4 fine cells -> one 2x-coarse cell; one empty-valued cell
    rows = [
        (0.0, 0.0, 1.0, "u"),
        (1000.0, 0.0, 2.0, "u"),
        (0.0, 1000.0, None, "v"),
        (1000.0, 1000.0, 4.0, "v"),
        (5000.0, 0.0, 8.0, "w"),  # separate coarse cell
    ]
    df = spark.createDataFrame(rows, "x double, y double, pop double, cat string")
    # default rule: sum, nulls skipped (aggregation_sum, gridtiler.py:470-474)
    got = {
        (r["x"], r["y"]): r["pop"]
        for r in TL.grid_aggregation(df, 1000.0, 2, aggregation_fun={"cat": "single_value"}).collect()
    }
    assert got[(0.0, 0.0)] == pytest.approx(7.0)
    assert got[(4000.0, 0.0)] == pytest.approx(8.0)

    # average: sum / len(all values) — the reference divides by ALL rows
    avg = {
        (r["x"], r["y"]): r["pop"]
        for r in TL.grid_aggregation(
            df.select("x", "y", "pop"), 1000.0, 2, aggregation_fun={"pop": "average"}
        ).collect()
    }
    assert avg[(0.0, 0.0)] == pytest.approx(7.0 / 4)

    # average_2: sum / a^2 (includes empty cells of the block)
    avg2 = {
        (r["x"], r["y"]): r["pop"]
        for r in TL.grid_aggregation(
            df.select("x", "y", "pop"), 1000.0, 2, aggregation_fun={"pop": "average_2"}
        ).collect()
    }
    assert avg2[(0.0, 0.0)] == pytest.approx(7.0 / 4)
    assert avg2[(4000.0, 0.0)] == pytest.approx(8.0 / 4)

    # average_3: mean over non-null only; null when none
    df3 = spark.createDataFrame(
        [(0.0, 0.0, None), (1000.0, 0.0, None)], "x double, y double, pop double"
    )
    avg3 = TL.grid_aggregation(df3, 1000.0, 2, aggregation_fun={"pop": "average_3"}).collect()
    assert avg3[0]["pop"] is None


def test_grid_aggregation_rounding(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 1.0000004), (1000.0, 0.0, 2.0000004)], "x double, y double, pop double"
    )
    out = TL.grid_aggregation(df, 1000.0, 2, aggregation_rounding=6).collect()
    assert out[0]["pop"] == pytest.approx(3.000001, abs=1e-12)


def test_grid_aggregation_negative_coords(spark):
    df = spark.createDataFrame([(-1.0, -1.0, 5.0)], "x double, y double, pop double")
    out = TL.grid_aggregation(df, 1000.0, 4, aggregation_rounding=None).collect()
    assert (out[0]["x"], out[0]["y"]) == (-4000.0, -4000.0)


def test_write_tiles_coarsened_supertiles(spark, tmp_path):
    """coarsen=k: super-tile partition dirs, rows sorted by (xt, yt) inside,
    exact tilingBounds, read-back prunes on the super key."""
    import pyspark.sql.functions as SF

    from pygridmap_spark.sources import pages as P
    from pygridmap_spark.functions import geolocate as GEO, tiling as TFN

    df = TFN.with_tile_assignment(
        GEO.with_geolocation(P.pages(spark, 1500)), 0.25, 16, x="lon", y="lat"
    )
    out_dir = str(tmp_path / "super")
    info = sinks.write_tiles(df, out_dir, resolution=0.25, tile_size_cell=16, coarsen=3)
    dirs = [d for d in os.listdir(out_dir) if d.startswith("xt_super=")]
    assert dirs and not any(d.startswith("xt=") for d in os.listdir(out_dir))
    back = sinks.read_tiles(spark, out_dir)
    assert back.count() == 1500
    got = back.agg(
        SF.min("xt"), SF.max("xt"), SF.min("yt"), SF.max("yt")
    ).collect()[0]
    tb = info["tilingBounds"]
    assert (got[0], got[1], got[2], got[3]) == (tb["xMin"], tb["xMax"], tb["yMin"], tb["yMax"])
    # super key consistent with shifted tile ids
    chk = back.filter(SF.shiftright("xt", 3) != SF.col("xt_super")).count()
    assert chk == 0


def test_write_tiles_empty_input_null_bounds(spark, tmp_path):
    """An EMPTY frame writes no partition dirs; the bounds read-back must
    fall back to null bounds instead of failing schema inference."""
    from pygridmap_spark.sources import sinks

    df = spark.createDataFrame([], "xt long, yt long, v double")
    out = str(tmp_path / "empty_tiles")
    info = sinks.write_tiles(df, out, resolution=1.0, tile_size_cell=10)
    assert info["tilingBounds"] == {
        "yMin": None, "yMax": None, "xMax": None, "xMin": None
    }
    assert sinks.read_info(out)["resolutionGeo"] == 1.0


def test_write_tiles_ignore_keeps_existing_tree(spark, tmp_path):
    """mode='ignore' over an existing tree writes no tiles and runs no job;
    the returned bounds are the tree's, not the ignored frame's."""
    out = str(tmp_path / "tiles")
    first = spark.createDataFrame([(0, 5, 1.0), (2, 6, 2.0)], "xt long, yt long, v double")
    other = spark.createDataFrame([(-4, 7, 3.0), (1, 9, 4.0)], "xt long, yt long, v double")
    want = sinks.write_tiles(first, out, resolution=1.0, tile_size_cell=10)["tilingBounds"]
    assert want == {"yMin": 5, "yMax": 6, "xMax": 2, "xMin": 0}
    info = {}
    jobs = _jobs(
        spark, "write_tiles_ignore",
        lambda: info.update(sinks.write_tiles(other, out, resolution=1.0, tile_size_cell=10, mode="ignore")),
    )
    assert not jobs
    assert info["tilingBounds"] == sinks.read_info(out)["tilingBounds"] == want
    assert sorted(r["v"] for r in sinks.read_tiles(spark, out).collect()) == [1.0, 2.0]
    # a new folder under 'ignore' is a plain write
    fresh = sinks.write_tiles(other, str(tmp_path / "fresh"), resolution=1.0, tile_size_cell=10, mode="ignore")
    assert fresh["tilingBounds"] == {"yMin": 7, "yMax": 9, "xMax": 1, "xMin": -4}


def _jobs(spark, group, fn):
    """Ids of the Spark jobs ``fn()`` submits, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_write_tiles_no_job_after_the_write(spark, tmp_path):
    """The tiling bounds are observed on the write: write_tiles submits the
    same jobs as the bare partitioned write, and no read-back job after it."""
    df = spark.range(400).select(
        (F.col("id") % 7 - 3).alias("xt"), (F.col("id") % 5).alias("yt"), F.col("id").cast("double").alias("v")
    )
    bare = _jobs(
        spark, "bare_tile_write",
        lambda: df.repartition("xt", "yt").write.mode("overwrite").partitionBy("xt", "yt").parquet(str(tmp_path / "bare")),
    )
    info = {}
    tiles = _jobs(
        spark, "write_tiles_jobs",
        lambda: info.update(sinks.write_tiles(df, str(tmp_path / "tiles"), resolution=1.0, tile_size_cell=10)),
    )
    assert len(tiles) == len(bare) >= 1
    assert info["tilingBounds"] == {"yMin": 0, "yMax": 4, "xMax": 3, "xMin": -3}


def test_write_tiles_append_bounds_cover_old_and_new(spark, tmp_path):
    """mode='append' adds tiles to the tree: info.json's bounds cover the
    existing tiles and the new ones, as a read-back of the whole tree does."""
    out = str(tmp_path / "tiles")
    old = spark.createDataFrame([(0, 5, 1.0), (2, 6, 2.0)], "xt long, yt long, v double")
    new = spark.createDataFrame([(-4, 7, 3.0), (1, 9, 4.0)], "xt long, yt long, v double")
    sinks.write_tiles(old, out, resolution=1.0, tile_size_cell=10)
    info = sinks.write_tiles(new, out, resolution=1.0, tile_size_cell=10, mode="append")
    want = {"yMin": 5, "yMax": 9, "xMax": 2, "xMin": -4}
    assert info["tilingBounds"] == sinks.read_info(out)["tilingBounds"] == want
    b = sinks.read_tiles(spark, out).agg(F.min("xt"), F.max("xt"), F.min("yt"), F.max("yt")).collect()[0]
    assert (b[0], b[1], b[2], b[3]) == (want["xMin"], want["xMax"], want["yMin"], want["yMax"])
    # an empty append leaves the bounds as they were
    empty = spark.createDataFrame([], "xt long, yt long, v double")
    assert sinks.write_tiles(empty, out, resolution=1.0, tile_size_cell=10, mode="append")["tilingBounds"] == want
