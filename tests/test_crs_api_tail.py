"""Round-2 parity additions: CRS guard (reference base.py:206-221,
gridding.py:282-289), grid_maker xypos/buffer (base.py:168-190, 347-370),
sort_grid asc flags, how='union_full' overlay, invalid-geometry contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pygridmap_spark.core import crs as CRS
from pygridmap_spark.core import geometry as G
from pygridmap_spark.core import wkb
from pygridmap_spark.operators import gridding as GR
from pygridmap_spark.operators import overlay as OV
from pygridmap_spark.sources import polygons as PG


# --- CRS ---------------------------------------------------------------------


def test_normalize_crs_reference_parity():
    assert CRS.normalize_crs(3035) == "EPSG:3035"
    assert CRS.normalize_crs("3035") == "EPSG:3035"
    assert CRS.normalize_crs("epsg:3035") == "EPSG:3035"
    assert CRS.normalize_crs("EPSG:4326") == "EPSG:4326"
    assert CRS.normalize_crs(None) is None
    assert CRS.normalize_crs("ESRI:102013") == "ESRI:102013"
    with pytest.raises(TypeError):
        CRS.normalize_crs(3.5)


def test_with_crs_metadata_roundtrip(spark):
    polys = PG.synthetic_polygons(spark, n=3)
    tagged = CRS.with_crs(polys, "3035")
    assert CRS.crs_of(tagged) == "EPSG:3035"
    # metadata survives projection of the column
    assert CRS.crs_of(tagged.select("poly_id", "geometry")) == "EPSG:3035"
    assert CRS.crs_of(polys) is None  # untagged layers stay undeclared


def test_grid_maker_crs_mismatch_raises(spark):
    mask = CRS.with_crs(PG.synthetic_polygons(spark, n=3, bbox=(0, 0, 10, 10)), 3035)
    with pytest.raises(ValueError, match="CRS mismatch"):
        GR.grid_maker(spark, mask=mask, cell=(1.0, 1.0), crs="EPSG:4326")
    # agreeing / undeclared combinations pass
    g = GR.grid_maker(spark, mask=mask, cell=(2.0, 2.0), crs=3035, emit_wkb=True)
    assert CRS.crs_of(g) == "EPSG:3035"  # resolved CRS lands on the output


def test_overlay_crs_mismatch_raises(spark):
    cells = CRS.with_crs(
        PG.grid_layer(spark, bbox=(0, 0, 100, 100), cell=(50.0, 50.0)), 3035
    )
    polys = CRS.with_crs(
        PG.synthetic_polygons(spark, n=3, bbox=(0, 0, 100, 100)), 4326
    )
    with pytest.raises(ValueError, match="CRS mismatch"):
        OV.grid_overlay_polygons(cells, polys, ["pop"])


# --- grid_maker xypos / buffer ------------------------------------------------


def test_grid_maker_xypos_anchors(spark):
    base = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0))
    cc = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), xypos="CC")
    urc = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), xypos="URc")
    b = {r["cell_id"]: (r["__x__"], r["__y__"]) for r in base.collect()}
    c = {r["cell_id"]: (r["__x__"], r["__y__"]) for r in cc.collect()}
    u = {r["cell_id"]: (r["__x__"], r["__y__"]) for r in urc.collect()}
    for cid, (bx, by) in b.items():
        assert c[cid] == (bx + 1.0, by + 1.0)
        assert u[cid] == (bx + 2.0, by + 2.0)
    # bounds stay the true cell rect regardless of anchor
    r0 = {r["cell_id"]: (r["xmax"], r["ymax"]) for r in cc.collect()}
    rb = {r["cell_id"]: (r["xmax"], r["ymax"]) for r in base.collect()}
    assert r0 == rb
    with pytest.raises(ValueError, match="xypos"):
        GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), xypos="nope")


def test_grid_maker_buffer_expands_bbox(spark):
    base = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0))
    buf = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), buffer=2.0)
    assert base.count() == 4 and buf.count() == 16  # one cell ring added
    assert buf.agg(F.min("__x__")).collect()[0][0] == -2.0
    pair = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0), buffer=(2.0, 0.0))
    # (by, bx): y-only expansion
    assert pair.count() == 8
    assert GR._buffer_amounts(True) == (GR.B.TOL_EPS, GR.B.TOL_EPS)
    assert GR._buffer_amounts(False) == (0.0, 0.0)


def test_sort_grid_asc_flags(spark):
    g = GR.grid_maker(spark, bbox=(0, 0, 4, 4), cell=(2.0, 2.0))
    asc = [r["__x__"] for r in GR.sort_grid(g, "rc").collect()]
    desc = [r["__x__"] for r in GR.sort_grid(g, "rc", asc=[True, False, False]).collect()]
    assert asc == sorted(asc) and desc == sorted(asc, reverse=True)
    with pytest.raises(TypeError):
        GR.sort_grid(g, "rc", asc=[True])


# --- union_full ----------------------------------------------------------------


def test_union_full_keeps_both_sides(spark):
    cells = PG.grid_layer(spark, bbox=(0, 0, 100, 100), cell=(50.0, 50.0))
    # one rect overlapping cell 0 only, one rect fully outside the grid
    other = spark.createDataFrame(
        [(10, 10.0, 10.0, 30.0, 30.0, 1.0), (11, 500.0, 500.0, 600.0, 600.0, 2.0)],
        "poly_id long, x double, y double, xmax double, ymax double, v double",
    )
    out = OV.grid_overlay_rects(cells, other, ["v"], rule=None, how="union_full")
    rows = out.collect()
    matched = [r for r in rows if r["cell_id"] is not None and r["poly_id"] is not None]
    un_cells = [r for r in rows if r["poly_id"] is None]
    un_polys = [r for r in rows if r["cell_id"] is None]
    assert len(matched) == 1 and matched[0]["piece_area"] == 400.0
    assert {r["cell_id"] for r in un_cells} == {1, 2, 3}  # 3 untouched cells
    assert [r["poly_id"] for r in un_polys] == [11] and un_polys[0]["v"] == 2.0
    with pytest.raises(ValueError, match="union_full"):
        OV.grid_overlay_rects(cells, other, ["v"], rule="sum", how="union_full")
    with pytest.raises(ValueError, match="how"):
        OV.grid_overlay_rects(cells, other, ["v"], how="outer")


def test_union_full_polygons_matches_rects(spark):
    cells = PG.grid_layer(spark, bbox=(0, 0, 100, 100), cell=(50.0, 50.0))
    polys = spark.createDataFrame(
        [
            (10, wkb.encode_box(10.0, 10.0, 30.0, 30.0), 1.0),
            (11, wkb.encode_box(500.0, 500.0, 600.0, 600.0), 2.0),
        ],
        "poly_id long, geometry binary, v double",
    )
    out = OV.grid_overlay_polygons(cells, polys, ["v"], rule=None, how="union_full")
    rows = out.collect()
    # poly 10 lies inside cell 0; poly 11 and cells 1-3 are unmatched
    assert sorted((r["cell_id"], r["poly_id"], r["v"]) for r in rows if r["cell_id"] is not None) == [
        (0, 10, 1.0), (1, None, None), (2, None, None), (3, None, None)
    ]
    assert [(r["poly_id"], r["v"]) for r in rows if r["cell_id"] is None] == [(11, 2.0)]


# --- invalid-geometry contract --------------------------------------------------


def test_bowtie_ring_contract():
    """Self-intersecting ring: membership is even-odd, areas are NET
    (documented divergence — the validator flags it)."""
    bow = np.array([(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)], float)
    assert G.ring_self_intersects(bow)
    assert G.ring_signed_area(bow) == 0.0  # opposite lobes cancel: NET area
    # even-odd membership: inside the left lobe
    assert G.points_in_ring(np.array([0.5]), np.array([1.0]), bow)[0]
    assert not G.points_in_ring(np.array([1.0]), np.array([0.2]), bow)[0]
    # clip to the full bbox keeps the net-zero area (no silent positive)
    assert abs(G.clip_area([bow], 0, 0, 2, 2)) < 1e-12
    issues = G.validate_polygon([bow])
    assert issues and "self-intersecting" in issues[0]


def test_duplicate_vertex_ring_harmless():
    sq = np.array([(0, 0), (1, 0), (1, 0), (1, 1), (0, 1), (0, 0)], float)
    assert not G.ring_self_intersects(sq)
    assert abs(G.ring_signed_area(sq)) == 1.0
    assert G.points_in_ring(np.array([0.5]), np.array([0.5]), sq)[0]
    assert G.validate_polygon([sq]) == []
    assert G.validate_polygon([np.array([(0, 0), (1, 1), (0, 0)], float)]) != []


def test_read_geoparquet_discovers_crs(spark, tmp_path):
    """GeoParquet 'geo' footer metadata -> primary geometry column + CRS
    declared via the engine convention (mixed-CRS overlay then raises)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pygridmap_spark.core import wkb as WKB
    from pygridmap_spark.sources import sinks

    geo = {
        "version": "1.0.0",
        "primary_column": "geometry",
        "columns": {
            "geometry": {
                "encoding": "WKB",
                "crs": {"name": "ETRS89-LAEA", "id": {"authority": "EPSG", "code": 3035}},
            }
        },
    }
    table = pa.table(
        {
            "poly_id": pa.array([1, 2], pa.int64()),
            "geometry": pa.array(
                [WKB.encode_box(0, 0, 1, 1), WKB.encode_box(1, 1, 2, 2)], pa.binary()
            ),
        }
    ).replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    path = str(tmp_path / "gp")
    import os

    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    df = sinks.read_geoparquet(spark, path)
    assert df.count() == 2
    assert CRS.crs_of(df) == "EPSG:3035"
    # plain parquet (no geo metadata): reads, no CRS declared
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    pq.write_table(table.replace_schema_metadata({}), os.path.join(plain, "p.parquet"))
    assert CRS.crs_of(sinks.read_geoparquet(spark, plain)) is None


def test_read_geojson_feature_collection(spark, tmp_path):
    import json

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "id": 7,
                "properties": {"name": "A", "pop": 10.5},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "B", "pop": 3.0},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [[[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]],
                        [[[8, 8], [9, 8], [9, 9], [8, 9], [8, 8]]],
                    ],
                },
            },
        ],
    }
    p = tmp_path / "layer.geojson"
    p.write_text(json.dumps(gj))
    df = PG.read_geojson(spark, str(p))
    rows = {r["poly_id"]: r for r in df.collect()}
    # feature 1 has no id -> index ids for ALL features (a 7/index mix
    # could collide with an explicit numeric id)
    assert set(rows) == {0, 1} and rows[0]["name"] == "A" and rows[0]["pop"] == 10.5
    assert CRS.crs_of(df) == "OGC:CRS84"
    from pygridmap_spark.core import geometry as G

    mp = wkb.decode_multipolygon(bytes(rows[0]["geometry"]))
    assert abs(G.multipolygon_area(mp) - 4.0) < 1e-12
    mp2 = wkb.decode_multipolygon(bytes(rows[1]["geometry"]))
    assert len(mp2) == 2  # two multipolygon parts survive
    # unsupported geometry raises
    bad = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {}, "geometry": {"type": "Point", "coordinates": [0, 0]}}
    ]}
    p2 = tmp_path / "bad.geojson"
    p2.write_text(json.dumps(bad))
    import pytest as _pt
    with _pt.raises(ValueError, match="Point"):
        PG.read_geojson(spark, str(p2))


def test_write_spatially_clustered_tightens_rowgroup_stats(spark, tmp_path):
    """Z-order layout: per-row-group lon ranges shrink vs the unsorted
    write — the statistic parquet row-group pruning feeds on."""
    import glob

    import pyarrow.parquet as pq

    from pygridmap_spark.sources import sinks

    df = (
        spark.range(20_000)
        .select(
            F.col("id"),
            ((F.col("id") * 131 % 3600) / 10.0 - 180.0).alias("lon"),
            ((F.col("id") * 17 % 1700) / 10.0 - 85.0).alias("lat"),
        )
        .repartition(8)
    )
    flat, zord = str(tmp_path / "flat"), str(tmp_path / "zord")
    df.write.parquet(flat)
    sinks.write_spatially_clustered(df, zord, zoom=10, num_files=64)

    def avg_lon_span(root):
        spans, rows = [], 0
        for f in glob.glob(root + "/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if col.path_in_schema == "lon" and col.statistics:
                        spans.append(col.statistics.max - col.statistics.min)
                        rows += g.num_rows
        return sum(spans) / len(spans), rows

    flat_span, n1 = avg_lon_span(flat)
    z_span, n2 = avg_lon_span(zord)
    assert n1 == n2 == 20_000
    assert z_span < flat_span / 3  # clustered stats are dramatically tighter
    # schema untouched (no __zorder__ leak)
    assert set(spark.read.parquet(zord).columns) == {"id", "lon", "lat"}


def test_read_tiles_window_partition_pruning(spark, tmp_path):
    from pygridmap_spark.sources import sinks

    df = spark.createDataFrame(
        [(i, i % 5, i // 5, float(i)) for i in range(25)],
        "row_id long, xt int, yt int, v double",
    )
    out = str(tmp_path / "tiles")
    sinks.write_tiles(df, out, resolution=1.0, tile_size_cell=10)
    # window covering tiles xt in [1,2], yt in [0,1) -> 2 tiles x 1 row each
    win = sinks.read_tiles_window(spark, out, (10.0, 0.0, 30.0, 10.0))
    rows = win.collect()
    assert {(r["xt"], r["yt"]) for r in rows} == {(1, 0), (2, 0)}
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "xt" in plan  # pruned at listing


def test_read_geojson_mixed_and_duplicate_ids(spark, tmp_path):
    import json

    def write(features, name):
        p = tmp_path / name
        p.write_text(json.dumps({"type": "FeatureCollection", "features": features}))
        return str(p)

    poly = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}
    # mixed string/missing ids -> index fallback, no crash, no collision
    mixed = write(
        [
            {"type": "Feature", "id": "DE", "properties": {}, "geometry": poly},
            {"type": "Feature", "properties": {}, "geometry": poly},
        ],
        "mixed.geojson",
    )
    assert {r["poly_id"] for r in PG.read_geojson(spark, mixed).collect()} == {0, 1}
    # duplicate explicit ids raise instead of double-counting downstream
    dup = write(
        [
            {"type": "Feature", "id": 5, "properties": {}, "geometry": poly},
            {"type": "Feature", "id": 5, "properties": {}, "geometry": poly},
        ],
        "dup.geojson",
    )
    with pytest.raises(ValueError, match="duplicate"):
        PG.read_geojson(spark, dup)


def test_hilbert_index_bijection_and_locality(spark):
    import numpy as np

    from pygridmap_spark.functions import cellindex as CI

    z, n = 4, 16
    xs = np.repeat(np.arange(n), n)
    ys = np.tile(np.arange(n), n)
    got = CI.hilbert_xy2d(xs, ys, z)
    assert len(set(got.tolist())) == n * n and got.min() == 0 and got.max() == n * n - 1
    # THE Hilbert property (Morton passes bijection but not this): every
    # consecutive distance is an adjacent cell — one manhattan step
    order = np.argsort(got)
    steps = np.abs(np.diff(xs[order])) + np.abs(np.diff(ys[order]))
    assert (steps == 1).all()
    pts = spark.range(100).select(
        F.col("id"),
        ((F.col("id") * 37 % 360) - 180.0).cast("double").alias("lon"),
        ((F.col("id") * 17 % 170) - 85.0).cast("double").alias("lat"),
    )
    out = CI.with_hilbert_index(pts, 8)
    assert out.count() == 100 and "hilbert_d" in out.columns
    assert out.filter(F.col("hilbert_d") < 0).count() == 0


def test_spatially_clustered_hilbert_curve(spark, tmp_path):
    from pygridmap_spark.sources import sinks

    df = spark.range(2000).select(
        F.col("id"),
        ((F.col("id") * 131 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 17 % 1700) / 10.0 - 85.0).alias("lat"),
    )
    out = str(tmp_path / "hil")
    sinks.write_spatially_clustered(df, out, zoom=8, num_files=8, curve="hilbert")
    assert spark.read.parquet(out).count() == 2000
    import pytest as _pt

    with _pt.raises(ValueError, match="curve"):
        sinks.write_spatially_clustered(df, out, curve="peano")
