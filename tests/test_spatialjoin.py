"""Spatial-join operators: indexed rect PIP, classified polygon PIP (vs a
direct numpy ray cast), bbox aggregations, reference-layout export,
floats_to_ints."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import bboxes as B
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.functions import geolocate as GEO
from pygridmap_spark.functions import tiling as TF
from pygridmap_spark.operators import spatialjoin as SJ
from pygridmap_spark.sources import pages as P
from pygridmap_spark.sources import polygons as PG
from pygridmap_spark.sources import sinks


@pytest.fixture(scope="module")
def points_df(spark):
    docs = spark.range(800).select(F.col("id").alias("pid"))
    lat, lon = GEO.lat_lon_from_id(F.col("pid"))
    return docs.withColumns({"lat": lat, "lon": lon}).cache()


def test_rect_pip_join_matches_predicate(spark, points_df):
    rects = spark.createDataFrame(
        [(0, -10.0, -10.0, 40.0, 30.0), (1, 100.0, 20.0, 170.0, 65.0)],
        "poly_id long, rxmin double, rymin double, rxmax double, rymax double",
    )
    got = {
        (r["pid"], r["poly_id"])
        for r in SJ.rect_pip_join(points_df, rects, z=6).collect()
    }
    pts = points_df.collect()
    want = set()
    for r in pts:
        for pid, x0, y0, x1, y1 in [(0, -10, -10, 40, 30), (1, 100, 20, 170, 65)]:
            if x0 <= r["lon"] < x1 and y0 <= r["lat"] < y1:
                want.add((r["pid"], pid))
    assert got == want and len(want) > 0


@pytest.fixture(scope="module")
def geo_polygons(spark):
    # irregular polygons in lon/lat space
    return PG.synthetic_polygons(
        spark, n=5, bbox=(-60.0, -40.0, 80.0, 60.0), seed=21
    ).cache()


def _expected_pip(points, polys_rows):
    geoms = {r["poly_id"]: wkb.decode_multipolygon(bytes(r["geometry"])) for r in polys_rows}
    want = set()
    px = np.array([r["lon"] for r in points])
    py = np.array([r["lat"] for r in points])
    for pid, mp in geoms.items():
        inside = G.points_in_multipolygon(px, py, mp)
        for i, r in enumerate(points):
            if inside[i]:
                want.add((r["pid"], pid))
    return want


def test_polygon_pip_join_matches_numpy(spark, points_df, geo_polygons):
    got = {
        (r["pid"], r["poly_id"])
        for r in SJ.polygon_pip_join(spark, points_df, geo_polygons, z=6).collect()
    }
    want = _expected_pip(points_df.collect(), geo_polygons.collect())
    assert got == want and len(want) > 0


def test_polygon_pip_join_outside_world_box(spark):
    """Cell keys are not clamped to the world box: (250, 5) used to land in
    edge cell 63 — interior to box(170, 0, 200, 10) at z=6 — and match it.
    Every finite point, on lon=180 / lat=90 too, gets the ray cast's answer;
    NULL and NaN coordinates drop."""
    polys = spark.createDataFrame(
        [
            (0, wkb.encode_box(170.0, 0.0, 200.0, 10.0)),
            (1, wkb.encode_box(-10.0, 80.0, 10.0, 100.0)),
            (2, wkb.encode_box(170.0, -10.0, 180.0, -5.0)),
            (3, wkb.encode_polygon([[(-200.0, -20.0), (-170.0, -20.0), (-185.0, 20.0)]])),
        ],
        "poly_id long, geometry binary",
    )
    pts = [
        (250.0, 5.0), (180.0, 5.0), (190.0, 5.0), (175.0, 5.0), (180.0, -7.0),
        (0.0, 90.0), (5.0, 95.0), (0.0, 120.0), (-185.0, 3.0), (-180.0, 0.0),
        (-195.0, -15.0), (float("nan"), 5.0), (175.0, float("nan")),
    ]
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)] + [(99, None, 5.0), (98, 175.0, None)]
    points = spark.createDataFrame(rows, "pid long, lon double, lat double")
    got = {(r["pid"], r["poly_id"]) for r in SJ.polygon_pip_join(spark, points, polys, z=6).collect()}
    want = _expected_pip([{"pid": i, "lon": x, "lat": y} for i, (x, y) in enumerate(pts)], polys.collect())
    assert (0, 0) not in got
    assert got == want
    assert {(1, 0), (2, 0), (5, 1), (6, 1), (8, 3), (9, 3)} <= want


def test_polygon_pip_join_sub_tolerance_polygon(spark):
    """A polygon smaller than 1e-9 of its zoom-6 cell (1.58e-8 deg^2) — a
    1e-5 deg or 1e-4 deg square, about a building footprint — used to get
    an empty cover, so no point inside it matched."""
    polys = spark.createDataFrame(
        [
            (0, wkb.encode_box(10.0, 10.0, 10.00001, 10.00001)),
            (1, wkb.encode_box(-20.0001, 30.0, -20.0, 30.0001)),
        ],
        "poly_id long, geometry binary",
    )
    pts = [(10.000005, 10.000005), (-20.00005, 30.00005), (10.00002, 10.000005), (-20.00005, 30.0002)]
    points = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)], "pid long, lon double, lat double")
    got = {(r["pid"], r["poly_id"]) for r in SJ.polygon_pip_join(spark, points, polys, z=6).collect()}
    want = _expected_pip([{"pid": i, "lon": x, "lat": y} for i, (x, y) in enumerate(pts)], polys.collect())
    assert got == want == {(0, 0), (1, 1)}


def test_polygon_pip_join_asymmetric_bowtie(spark):
    """A self-intersecting ring matches points even-odd, as the ray cast
    does, in both lobes: the smaller lobe (area 150 of 750) is wound
    against the ring's net orientation, and its boundary cells must still
    be candidates, not pruned as covering no area."""
    polys = spark.createDataFrame(
        [(0, wkb.encode_polygon([[(0.0, 0.0), (60.0, 30.0), (60.0, 0.0), (0.0, 15.0)]]))],
        "poly_id long, geometry binary",
    )
    gx, gy = np.meshgrid(np.arange(0.3, 60.0, 1.1), np.arange(0.2, 30.0, 0.7))
    pts = list(zip(gx.ravel().tolist(), gy.ravel().tolist()))
    points = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)], "pid long, lon double, lat double")
    got = {(r["pid"], r["poly_id"]) for r in SJ.polygon_pip_join(spark, points, polys, z=6).collect()}
    want = _expected_pip([{"pid": i, "lon": x, "lat": y} for i, (x, y) in enumerate(pts)], polys.collect())
    small = {i for i, (x, y) in enumerate(pts) if x < 20.0 and (i, 0) in want}
    assert len(small) > 100 and got == want


def test_polygon_pip_join_submits_no_job(spark, points_df, geo_polygons):
    """Building the join plans only: no Spark job runs before the caller's
    action (a driver-side collect of the polygon layer would show here)."""
    sc = spark.sparkContext
    group = "polygon_pip_join_lazy"
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        out = SJ.polygon_pip_join(spark, points_df, geo_polygons, z=6)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
        out.count()
        ran = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before
    assert ran - after  # the probe sees the action's jobs


def test_polygon_pip_join_plan_shape(spark, points_df, geo_polygons, tmp_path):
    """The final AQE plan evaluates each input once: one points scan, one
    ``_cover`` classifier node, one PIP predicate node and no Union; the
    cover and the WKB are broadcast, and the points never shuffle."""
    points_df.write.parquet(str(tmp_path / "pts"))
    points = spark.read.parquet(str(tmp_path / "pts"))
    polys = spark.createDataFrame(geo_polygons.collect(), geo_polygons.schema)
    out = SJ.polygon_pip_join(spark, points, polys, z=6)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("FileScan parquet") == 1, final
    assert final.count("MapInPandas") == 1 and "MapInPandas _cover" in final, final
    assert final.count("ArrowEvalPython") == 1, final
    assert "Union" not in final, final
    # every Exchange is one of the two broadcasts (cover, WKB): no shuffle
    assert final.count("BroadcastExchange") == final.count("Exchange") == 2, final


def _no_coordinate_filter(out):
    """The final plan evaluates ``sha2`` in no Filter and no scan DataFilters."""
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final and "sha2" in final
    for line in final.splitlines():
        assert not ("Filter" in line and "sha2" in line), final


def test_pip_joins_derive_coordinates_once(spark, geo_polygons, tmp_path):
    """Over geolocated pages on a parquet scan, the cell-key join must not
    make Catalyst infer a not-null filter on the key and push it to the
    scan, where it recomputes the sha256 coordinate chain per page."""
    P.pages(spark, 300).write.parquet(str(tmp_path / "pages"))
    pts = GEO.with_geolocation(spark.read.parquet(str(tmp_path / "pages")).select("url", "text"))
    polys = spark.createDataFrame(geo_polygons.collect(), geo_polygons.schema)
    _no_coordinate_filter(SJ.polygon_pip_join(spark, pts, polys, z=6))
    rects = spark.createDataFrame(
        [(0, -10.0, -10.0, 40.0, 30.0)], "poly_id long, rxmin double, rymin double, rxmax double, rymax double"
    )
    _no_coordinate_filter(SJ.rect_pip_join(pts, rects, z=6))


def test_polygon_pip_join_rejects_metre_polygons(spark, points_df):
    """Polygons in projected metres (a 100 km bbox) at z=14 used to make a
    ~1e14-cell cover block and kill the JVM with OutOfMemoryError; a cover
    far wider than the world lattice now fails the action naming the
    polygon."""
    from pyspark.errors import PythonException

    polys = PG.synthetic_polygons(spark, n=2, bbox=(0.0, 0.0, 100_000.0, 100_000.0), seed=3)
    with pytest.raises(PythonException, match=r"ValueError: polygon \d+ spans \d+ x \d+ cells, more than 65536 on an axis"):
        SJ.polygon_pip_join(spark, points_df, polys, z=14).count()


def test_polygon_pip_join_just_past_world_box(spark):
    """A lon/lat polygon a little wider than the world (-180.5..180, or
    buffered across the antimeridian) spans more cells than the world
    lattice, and still joins: only a cover far wider is refused."""
    polys = spark.createDataFrame(
        [
            (0, wkb.encode_box(-180.5, -1.0, 180.0, 1.0)),
            (1, wkb.encode_box(-181.0, 10.0, 181.0, 20.0)),
        ],
        "poly_id long, geometry binary",
    )
    pts = [(-180.25, 0.0), (179.9, 0.5), (180.5, 0.0), (-180.75, 15.0), (180.5, 15.0), (0.0, 5.0)]
    points = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)], "pid long, lon double, lat double")
    got = {(r["pid"], r["poly_id"]) for r in SJ.polygon_pip_join(spark, points, polys, z=4).collect()}
    assert got == {(0, 0), (1, 0), (3, 1), (4, 1)}


def _pip_pairs(spark, points, polys):
    return {(r["pid"], r["poly_id"]) for r in SJ.polygon_pip_join(spark, points, polys, z=6).collect()}


def test_polygon_pip_join_null_geometry(spark, points_df, geo_polygons):
    """A NULL geometry row matches nothing and leaves the other rows'
    matches unchanged (it used to fail the cover pass with TypeError)."""
    rows = geo_polygons.select("poly_id", "geometry").collect()
    polys = spark.createDataFrame([*rows, (99, None)], "poly_id long, geometry binary")
    want = _expected_pip(points_df.collect(), rows)
    assert _pip_pairs(spark, points_df, polys) == want and len(want) > 0


def test_polygon_pip_join_null_key(spark):
    """A polygon with a NULL key gets the exact ray cast in its boundary
    cells like any other (its boundary candidates used to drop)."""
    polys = spark.createDataFrame(
        [(None, wkb.encode_polygon([[(0.0, 0.0), (40.0, 0.0), (0.0, 40.0)]])), (1, wkb.encode_box(50.0, 0.0, 60.0, 10.0))],
        "poly_id long, geometry binary",
    )
    # (19, 19) is inside the triangle in a boundary cell, (21, 20) outside
    points = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 19.0, 19.0), (2, 21.0, 20.0), (3, 55.0, 5.0)], "pid long, lon double, lat double"
    )
    assert _pip_pairs(spark, points, polys) == {(0, None), (1, None), (3, 1)}


@pytest.mark.parametrize("name", ["poly_id", "__cls__", "__wkb__"])
def test_polygon_pip_join_rejects_reserved_columns(spark, points_df, geo_polygons, name):
    """A points column named like the polygon key or a join temporary
    raises at call time, naming it (poly_id used to fail deep in the plan
    with AMBIGUOUS_REFERENCE)."""
    with pytest.raises(ValueError, match=name):
        SJ.polygon_pip_join(spark, points_df.withColumn(name, F.lit(1)), geo_polygons, z=6)


def test_polygon_pip_join_payload_round_trip(spark):
    """Timestamp, binary, NULL-string and nullable-long point columns come
    back unchanged on interior and boundary matches alike."""
    import datetime as dt

    polys = spark.createDataFrame(
        [(0, wkb.encode_polygon([[(0.0, 0.0), (40.0, 0.0), (0.0, 40.0)]]))], "poly_id long, geometry binary"
    )
    # z=6 cells are 5.625 x 2.8125 deg: (2, 2) lies in an interior cell of
    # the triangle, (19, 19) inside it in a boundary cell, (21, 20) outside
    # it in a boundary cell
    pts = [(2.0, 2.0), (19.0, 19.0), (21.0, 20.0), (-5.0, 5.0)]
    rows = [
        (i, x, y, dt.datetime(2024, 1, 1 + i, 12, 30), bytes([i, 0, 255]), None if i % 2 else f"u{i}", None if i == 0 else 10**12 + i)
        for i, (x, y) in enumerate(pts)
    ]
    points = spark.createDataFrame(rows, "pid long, lon double, lat double, ts timestamp, blob binary, url string, n long")
    want = {r["pid"]: r for r in points.collect()}
    got = SJ.polygon_pip_join(spark, points, polys, z=6).collect()
    assert sorted(r["pid"] for r in got) == [0, 1]
    for r in got:
        assert r[: len(points.columns)] == want[r["pid"]]
        assert r["poly_id"] == 0


def test_bbox_union_intersection_aggs(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 10.0, 10.0), (5.0, 5.0, 20.0, 15.0)],
        "x double, y double, xmax double, ymax double",
    )
    u = df.agg(*TF.bbox_union_agg()).collect()[0]
    assert (u["xmin"], u["ymin"], u["xmax"], u["ymax"]) == (0.0, 0.0, 20.0, 15.0)
    i = df.agg(*TF.bbox_intersection_agg()).collect()[0]
    assert (i["xmin"], i["ymin"], i["xmax"], i["ymax"]) == (5.0, 5.0, 10.0, 10.0)


def test_bbox_to_ring_density():
    ring = B.bbox_to_ring([0, 0, 10, 10])
    assert len(ring) == 5 and ring[0] == ring[-1]
    dense = B.bbox_to_ring([0, 0, 10, 10], density=3, buffer=1.0)
    assert len(dense) == 4 * 4 + 1
    assert dense[0] == (-1.0, -1.0)
    area = G.polygon_area([np.array(dense)])
    assert area == pytest.approx(144.0)


def test_export_reference_layout(spark, tmp_path):
    from pygridmap_spark.operators import tiler as TL

    df = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (128_000.0, 0.0, 2.0), (0.0, 128_000.0, 3.0)],
        "x double, y double, pop double",
    )
    out_dir = str(tmp_path / "tiles")
    TL.grid_tiling(df, out_dir, resolution=1000.0, format="csv")
    n = sinks.export_reference_layout(out_dir)
    assert n == 3
    # reference contract: out/<xt>/<yt>.csv  (gridtiler.py:124-144)
    assert os.path.exists(os.path.join(out_dir, "0", "0.csv"))
    assert os.path.exists(os.path.join(out_dir, "1", "0.csv"))
    assert os.path.exists(os.path.join(out_dir, "0", "1.csv"))
    assert os.path.exists(os.path.join(out_dir, "info.json"))


def test_floats_to_ints_formatting(spark):
    """Cosmetic CSV rendering (gridtiler.py:567-576): integral doubles
    lose the '.0', others keep their double rendering."""
    df = spark.createDataFrame(
        [(12.0,), (12.5,), (None,), (float("inf"),)], "v double"
    )
    got = [r[0] for r in df.select(TF.floats_to_ints(F.col("v"))).collect()]
    assert got[0] == "12"
    assert got[1] == "12.5"
    assert got[2] is None
    assert "inf" in got[3].lower()


def test_align_pos_location():
    # anchor at origin, bbox off-grid: sides land on whole cell multiples
    out = B.align_pos_location([10.0, 10.0], [3.0, 4.0, 97.0, 96.0], [0.0, 0.0])
    assert out[0] % 10 == 0 and out[1] % 10 == 0
    assert out[0] <= 3.0 and out[1] <= 4.0
    assert out[2] >= 97.0 and out[3] >= 96.0
    assert (out[2] - 0.0) % 10 == 0 and (out[3] - 0.0) % 10 == 0
    # bbox already anchored stays put (plus maxsize padding on max sides)
    out2 = B.align_pos_location([10.0, 10.0], [0.0, 0.0, 100.0, 100.0], [0.0, 0.0])
    assert out2[0] == 0.0 and out2[1] == 0.0


def test_sort_grid(spark):
    from pygridmap_spark.operators import gridding as GR

    g = GR.grid_maker(spark, bbox=(0.0, 0.0, 30_000.0, 30_000.0), cell=(10_000.0, 10_000.0))
    rows = GR.sort_grid(g, "rc").collect()
    keys = [(r["__tile__"], r["__x__"], r["__y__"]) for r in rows]
    assert keys == sorted(keys)
    rows_cr = GR.sort_grid(g, "cr").collect()
    keys_cr = [(r["__tile__"], r["__y__"], r["__x__"]) for r in rows_cr]
    assert keys_cr == sorted(keys_cr)


def test_csv_roundtrip_and_to_parquet(spark, tmp_path):
    from pygridmap_spark.operators import tiler as TL

    df = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (200_000.0, 0.0, 2.0)], "x double, y double, pop double"
    )
    out_dir = str(tmp_path / "t")
    TL.grid_tiling(df, out_dir, resolution=1000.0, format="csv")
    sinks.csv_to_parquet(spark, out_dir)
    back = sinks.read_tiles(spark, out_dir)
    assert back.count() == 2
    assert os.path.exists(os.path.join(out_dir, "info.json"))
    # plain csv grid reader
    csv_path = str(tmp_path / "grid.csv")
    df.toPandas().to_csv(csv_path, index=False)
    assert sinks.read_grid_csv(spark, csv_path).count() == 2


def test_resample_generic_two_rasters(spark):
    from pygridmap_spark.operators import raster as RA
    from pygridmap_spark.sources import polygons as PG

    out_grid = PG.grid_layer(spark, (0.0, 0.0, 8.0, 8.0), (2.0, 2.0), val_from_index=False)
    r1 = RA.synthetic_raster(spark, 8, 8, band="band1")
    r2 = RA.synthetic_raster(spark, 4, 4, band="band2")  # coarser raster
    dead = RA.synthetic_raster(spark, 8, 8, band="band3").withColumn(
        "band3", F.lit(None).cast("double")
    )
    out = RA.resample_generic(
        out_grid,
        {
            "band1": (r1, 8, 0.0, 0.0, 1.0),
            "band2": (r2, 4, 0.0, 0.0, 2.0),
            "band3": (dead, 8, 0.0, 0.0, 1.0),
        },
        resolution_out=2.0,
    )
    assert "band3" not in out.columns  # all-null band dropped
    rows = {(r["x"], r["y"]): (r["band1"], r["band2"]) for r in out.collect()}
    # cell (0,0): centre (1,1) -> r1 col 1, row 6 -> 1 + 6*8 = 49
    assert rows[(0.0, 0.0)][0] == 49.0
    # r2: centre (1,1) -> col 0, row 3 -> 0 + 3*4 = 12
    assert rows[(0.0, 0.0)][1] == 12.0


def test_connected_components(spark):
    from pygridmap_spark.operators import dedup as DD

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component_id"] for r in DD.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
