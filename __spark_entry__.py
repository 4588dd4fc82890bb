"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline on sf0.001; ``queries()`` maps
every SURVEY §2 operator family to a (spark, sf_dir) -> DataFrame callable;
``oracle_sql()`` gives the DuckDB-equivalent SQL over the same tables.

Oracle-precision policy: money-style sums go through exact decimal
accumulation then cast to double (order-independent across engines);
per-row doubles (distances, cosines) are rounded to 6 decimals on both
sides; synthetic coordinates use integer-hash arithmetic (geolocate.
lat_lon_from_id) reproducible in int64 SQL. Operators whose hashing
primitives don't exist in DuckDB (xxhash64-based MinHash/SimHash, LSH) are
registered without an oracle — the driver records the rows-only check and
pytest pins their semantics on synthetic duplicates instead.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the driver may import this file by path; make the package resolvable
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pygridmap_spark.functions import geolocate as GEO
from pygridmap_spark.functions import text as TX
from pygridmap_spark.functions import tiling as TF
from pygridmap_spark.functions import cellindex as CI
from pygridmap_spark.operators import dedup as DD
from pygridmap_spark.operators import knn as KNN
from pygridmap_spark.operators import overlay as OV
from pygridmap_spark.operators import raster as RA
from pygridmap_spark.operators import similarity as SIM
from pygridmap_spark.operators import textstats as TS
from pygridmap_spark.operators import tiler as TL
from pygridmap_spark.sources import polygons as PG
from pygridmap_spark.operators import curation as CU
from pygridmap_spark.operators import domains as DMN
from pygridmap_spark.functions import pii as PI
from pygridmap_spark.functions import reproject as RPJ
from pygridmap_spark.functions import s2 as S2C
from pygridmap_spark.functions import hexgrid as HX
from pygridmap_spark.operators import knn_sphere as KS
from pygridmap_spark.operators import hotspots as HS
from pygridmap_spark.operators import spacetime as ST

# chord threshold for the within_radius_s2 driver query (400 km), embedded
# into the DuckDB oracle so both engines filter on the identical double
import math as _math
_RADIUS_S2_CHORD = 2.0 * _math.sin((400_000.0 / KS.EARTH_RADIUS_M) / 2.0)

# hex_polyfill oracle strides (20 km hexes), embedded as exact doubles
_HEX_SX = 20_000.0 * _math.sqrt(3.0)
_HEX_SY = 20_000.0 * 1.5
from pygridmap_spark.operators import packing as PKG
from pygridmap_spark.operators import sampling as SMP
from pygridmap_spark.streaming import pipeline as SP


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- flagship ---------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> geolocate -> cell index -> tile assignment ->
    per-tile histogram (pages + text bytes per tile)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.withColumns({"lat": lat, "lon": lon})
    pts = CI.with_cell_index(pts, 6, lon="lon", lat="lat")
    tiled = TF.with_tile_assignment(pts, resolution=0.25, tile_size_cell=16, x="lon", y="lat")
    return (
        tiled.groupBy("xt", "yt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("text_bytes"),
            F.countDistinct("cell_id").cast("long").alias("n_cells"),
        )
    )


# --- shared SQL fragments (keep Spark + DuckDB derivations in one place) ----

_GEO_SQL = (
    "-60.0 + (doc_id * 2654435761 % 1300000) / 10000.0 AS lat, "
    "-180.0 + (doc_id * 2246822519 % 3600000) / 10000.0 AS lon"
)

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"
)


def _lang_scores_sql() -> tuple[str, str]:
    """(score CTE columns, CASE expr) replicating functions.text.lang_id."""
    score_cols = []
    for lang, words in TX.LANG_STOPWORDS.items():
        terms = " + ".join(
            f"(length(p) - length(replace(p, '{w}', ''))) / {len(w)}.0" for w in words
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    langs = list(TX.LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return ", ".join(score_cols), case


# --- queries ----------------------------------------------------------------


def _q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 tile-assignment arithmetic over geolocated documents."""
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.withColumns({"lat": lat, "lon": lon})
    out = TF.with_tile_assignment(pts, resolution=0.25, tile_size_cell=16, x="lon", y="lat")
    return out.select(
        "doc_id",
        F.col("xt").cast("long").alias("xt"),
        F.col("yt").cast("long").alias("yt"),
        F.col("cx").cast("long").alias("cx"),
        F.col("cy").cast("long").alias("cy"),
    )


def _q_tile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.withColumns({"lat": lat, "lon": lon})
    tiled = TF.with_tile_assignment(pts, resolution=0.25, tile_size_cell=16, x="lon", y="lat")
    return tiled.groupBy(
        F.col("xt").cast("long").alias("xt"), F.col("yt").cast("long").alias("yt")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("text_bytes"),
    )


def _q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/G13 multi-resolution roll-up via the grid_aggregation operator."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") * 731.0).alias("x"),
        ((F.col("user_id") % 1000).cast("double") * 13.7).alias("y"),
        # decimal accumulation: order-independent exact sums across engines
        F.col("value").cast("decimal(20,6)").alias("val"),
    )
    out = TL.grid_aggregation(ev, resolution=100.0, a=4, aggregation_rounding=None)
    return out.select(
        "x",
        "y",
        F.round(F.col("val").cast("double"), 6).alias("val_sum"),
    )


def _q_top1_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W1: top-1 per group by area-pct-analog (extendedprice)."""
    li = _t(spark, sf_dir, "lineitem")
    cell = (F.col("l_orderkey") % 97).alias("cell")
    w = Window.partitionBy("cell").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        li.select(cell, "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").cast("long").alias("linenumber"),
            F.col("l_extendedprice").alias("price"),
        )
    )


def _q_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 weighted-sum aggregation (TPC-H Q1 shape, exact decimal sums)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline: customer x orders x lineitem x nation (broadcast dims)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def _q_pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-analog: point-in-polygon join of geolocated docs against rect
    regions derived from the nation table (broadcast dim side)."""
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("poly_id"),
        (F.lit(-180.0) + (F.col("n_nationkey") * 13 % 300).cast("double")).alias("rxmin"),
        (F.lit(-60.0) + (F.col("n_nationkey") * 7 % 100).cast("double")).alias("rymin"),
    ).withColumns(
        {"rxmax": F.col("rxmin") + 30.0, "rymax": F.col("rymin") + 25.0}
    )
    joined = pts.join(
        F.broadcast(nation),
        (F.col("lon") >= F.col("rxmin"))
        & (F.col("lon") < F.col("rxmax"))
        & (F.col("lat") >= F.col("rymin"))
        & (F.col("lat") < F.col("rymax")),
    )
    return joined.select("doc_id", F.col("poly_id").cast("long").alias("poly_id"))


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via cell-ring expansion (exact; oracle = brute-force SQL)."""
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select(F.col("doc_id").alias("point_id"), lon.alias("x"), lat.alias("y"))
    qs = pts.filter(F.col("point_id") < 20).select(
        F.col("point_id").alias("query_id"), "x", "y"
    )
    out = KNN.knn_cellring(pts, qs, k=5, cell=10.0)
    return out.select(
        "query_id",
        "point_id",
        F.round(F.col("dist"), 6).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_grid_overlay_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The overlay core (J5/J6+A1+A2): offset grid x value grid, rule=sum —
    closed-form rectangle intersection, oracle = inequality join in SQL."""
    base = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (5_000.0, 5_000.0))
    offset = PG.grid_layer(
        spark, (2_500.0, 2_500.0, 97_500.0, 97_500.0), (5_000.0, 5_000.0)
    ).drop("val")
    out = OV.grid_overlay_rects(offset, base, ["val"], rule="sum", how="intersection")
    return out.select(
        F.col("cell_id").alias("cell_id"),
        F.round(F.col("val"), 6).alias("val"),
    )


def _q_overlay_union_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """how='union_full' (J6 full planar-union parity): pieces of BOTH
    layers survive — unmatched grid cells with null polygon attrs,
    unmatched polygons with null cell_id. Oracle: overlap join + two
    anti-joins in SQL."""
    cells = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (10_000.0, 10_000.0))
    other = (
        PG.grid_layer(spark, (55_000.0, 55_000.0, 155_000.0, 155_000.0), (10_000.0, 10_000.0))
        .withColumnRenamed("cell_id", "poly_id")
    )
    out = OV.grid_overlay_rects(cells, other, ["val"], rule=None, how="union_full")
    return out.select(
        "cell_id",
        "poly_id",
        F.round(F.col("piece_area"), 6).alias("piece_area"),
        F.round(F.col("area_pct"), 6).alias("area_pct"),
        F.col("val"),
    )


def _q_overlay_pieces_wkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piece GEOMETRY emission (reference parity: overlay pieces carry
    their clipped geometry, overlay.py:296-297). The piece WKB is decoded
    BACK to corner coordinates in an Arrow pass, so the oracle hash-match
    proves the emitted bytes encode exactly the closed-form intersection
    rectangles — not just that areas came out right."""
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    base = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (5_000.0, 5_000.0))
    offset = PG.grid_layer(
        spark, (2_500.0, 2_500.0, 97_500.0, 97_500.0), (5_000.0, 5_000.0)
    ).drop("val")
    pieces = OV.grid_overlay_rects(offset, base, [], rule=None, emit_wkb=True)

    def _decode(batches):
        for batch in batches:
            if not len(batch):
                continue
            out = {
                "cell_id": batch["cell_id"],
                "poly_id": batch["poly_id"],
                "pxmin": [],
                "pymin": [],
                "pxmax": [],
                "pymax": [],
                "piece_area": batch["piece_area"],
            }
            for buf in batch["geometry"]:
                ring = WKB.decode_multipolygon(bytes(buf))[0][0]
                out["pxmin"].append(ring[:, 0].min())
                out["pymin"].append(ring[:, 1].min())
                out["pxmax"].append(ring[:, 0].max())
                out["pymax"].append(ring[:, 1].max())
            yield pd.DataFrame(out)

    corners = pieces.mapInPandas(
        _decode,
        "cell_id long, poly_id long, pxmin double, pymin double, "
        "pxmax double, pymax double, piece_area double",
    )
    return corners.select(
        "cell_id",
        "poly_id",
        F.round("pxmin", 6).alias("pxmin"),
        F.round("pymin", 6).alias("pymin"),
        F.round("pxmax", 6).alias("pxmax"),
        F.round("pymax", 6).alias("pymax"),
        F.round("piece_area", 6).alias("piece_area"),
    )


def _q_overlay_poly_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General polygon x polygon overlay (round 3: reference
    overlay_polygon parity, overlay.py:287-309) through the REAL boolean
    kernel: the right layer is CONCAVE L-shapes, so every piece goes
    through ear-clipping + per-triangle Sutherland-Hodgman; L-shapes are
    rect-decomposable, so the DuckDB twin is closed-form (sum of the two
    rectangle intersections)."""
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    n = _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    lrows, rrows = [], []
    for r in n:
        k = r["n_nationkey"]
        lx, ly = -180.0 + (k * 13 % 300), -60.0 + (k * 7 % 100)
        lrows.append((k, WKB.encode_box(lx, ly, lx + 30.0, ly + 25.0)))
        rx, ry = -170.0 + (k * 17 % 280), -55.0 + (k * 11 % 90)
        ring = [
            (rx, ry), (rx + 20.0, ry), (rx + 20.0, ry + 10.0),
            (rx + 10.0, ry + 10.0), (rx + 10.0, ry + 20.0), (rx, ry + 20.0),
        ]
        rrows.append((k, WKB.encode_polygon([ring])))
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [a for a, _ in lrows], "geometry": [b for _, b in lrows]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"right_id": [a for a, _ in rrows], "geometry": [b for _, b in rrows]})
    )
    out = OV.polygon_overlay_pieces(left, right)
    return out.select(
        "left_id",
        "right_id",
        F.round("piece_area", 6).alias("piece_area"),
        F.round("area_pct", 6).alias("area_pct"),
    )


def _q_area_interpolate_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7 areal interpolation end-to-end through the REAL geometry path
    (WKB decode -> Sutherland-Hodgman clip -> rule=sum/area/cover) with
    rectangle polygons, so the DuckDB oracle is closed-form rect math."""
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("poly_id"),
        (F.lit(-180.0) + (F.col("n_nationkey") * 13 % 300).cast("double")).alias("rxmin"),
        (F.lit(-60.0) + (F.col("n_nationkey") * 7 % 100).cast("double")).alias("rymin"),
    ).collect()
    pdf = pd.DataFrame(
        {
            "poly_id": [r["poly_id"] for r in nat],
            "geometry": [
                WKB.encode_box(r["rxmin"], r["rymin"], r["rxmin"] + 30.0, r["rymin"] + 25.0)
                for r in nat
            ],
            "val": [float(r["poly_id"] + 1) for r in nat],
        }
    )
    polys = spark.createDataFrame(pdf)
    cells = PG.grid_layer(
        spark, bbox=(-180.0, -60.0, 180.0, 65.0), cell=(15.0, 15.0), val_from_index=False
    )
    out = OV.area_interpolate(spark, polys, cells, ["val"])
    return out.select(
        "cell_id",
        F.round(F.col("val"), 6).alias("val"),
        F.size("__cover__").cast("long").alias("n_cover"),
        F.round(F.col("piece_area"), 6).alias("piece_area"),
        F.round(F.col("area_pct"), 6).alias("area_pct"),
    )


def _q_grid_maker_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/J1/J2/F1: grid maker over a rectangular mask, trim=False, flags
    out. Oracle: closed-form rect-vs-cell intersection tests."""
    from pygridmap_spark.core import wkb
    import pandas as pd

    mask_pdf = pd.DataFrame(
        {"poly_id": [0], "geometry": [wkb.encode_box(23_000.0, 31_000.0, 68_500.0, 79_500.0)]}
    )
    mask = spark.createDataFrame(mask_pdf)
    from pygridmap_spark.operators import gridding as GR

    out = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=(0.0, 0.0, 100_000.0, 100_000.0),
        trim=False,
    )
    return out.select(
        F.col("cell_x").cast("long").alias("cell_x"),
        F.col("cell_y").cast("long").alias("cell_y"),
        F.col("__intersects__").cast("long").alias("intersects"),
        F.col("__within__").cast("long").alias("within"),
    )


def _q_qtree_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 qtree mode over the same rect mask, trim=True — oracle: cells
    whose rect intersects the mask (qtree prunes all-out blocks)."""
    import pandas as pd

    from pygridmap_spark.core import wkb
    from pygridmap_spark.operators import gridding as GR

    mask_pdf = pd.DataFrame(
        {"poly_id": [0], "geometry": [wkb.encode_box(23_000.0, 31_000.0, 68_500.0, 79_500.0)]}
    )
    mask = spark.createDataFrame(mask_pdf)
    out = GR.grid_maker(
        spark, mask=mask, cell=(10_000.0, 10_000.0), bbox=(0.0, 0.0, 100_000.0, 100_000.0),
        trim=True, mode="qtree",
    )
    return out.select(
        F.col("cell_x").cast("long").alias("cell_x"),
        F.col("cell_y").cast("long").alias("cell_y"),
        F.col("__within__").cast("long").alias("within"),
    )


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-group clustering (pointer-jumping CC) over a deterministic edge
    set from events — oracle: DuckDB recursive CTE computing the min
    reachable id per node."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    pairs = ev.select(
        (F.col("event_id") % 97).alias("doc_a"),
        ((F.col("event_id") * 7 + 13) % 97).alias("doc_b"),
    ).filter(F.col("doc_a") < F.col("doc_b")).distinct()
    out = DD.connected_components(pairs, max_iter=30)
    return out.select("doc_id", "component_id")


def _hotspot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic clustered point field for the hotspot query: 84 'city'
    blobs (centers on a 12x25-deg lon x 7x11-deg lat lattice via CRT on
    event_id, +-4.5 x +-2.5 deg jitter) plus a uniform global noise floor
    (every 37th event). Pure int64 hash arithmetic, restated verbatim in
    the DuckDB oracle."""
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    blob_lon = (
        F.lit(-150.0)
        + (e % 12).cast("double") * F.lit(25.0)
        + ((e * F.lit(2654435761)) % F.lit(9000)).cast("double") / F.lit(1000.0)
        - F.lit(4.5)
    )
    blob_lat = (
        F.lit(-33.0)
        + (e % 7).cast("double") * F.lit(11.0)
        + ((e * F.lit(40503)) % F.lit(5000)).cast("double") / F.lit(1000.0)
        - F.lit(2.5)
    )
    noise_lon = F.lit(-180.0) + ((e * F.lit(1103515245)) % F.lit(360000)).cast("double") / F.lit(1000.0)
    noise_lat = F.lit(-85.0) + ((e * F.lit(12345)) % F.lit(170000)).cast("double") / F.lit(1000.0)
    is_noise = (e % 37) == F.lit(0)
    return ev.select(
        "event_id",
        "ts",
        F.when(is_noise, noise_lon).otherwise(blob_lon).alias("lon"),
        F.when(is_noise, noise_lat).otherwise(blob_lat).alias("lat"),
    )


def _q_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell hotspot clustering (operators/hotspots — DBSCAN-lite on
    the Morton grid): core cells at z=6 with >= 3 points, labeled by the
    min cell_id of their 8-neighbor connected component (antimeridian
    wrap). Oracle rebuilds the cells in SQL and labels them with a
    recursive min-reachable CTE — rows, schema, and hash must match."""
    pts = _hotspot_points(spark, sf_dir)
    out = HS.hotspot_cells(pts, z=6, min_points=3)
    return out.select("cell_ix", "cell_iy", "cell_id", "n_points", "cluster_id")


def _q_grid_gi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot z-score per occupied z=6 cell
    (operators/hotspots.gi_star_cells, sparse-universe formulation) over
    the same clustered point field as grid_hotspots. The oracle restates
    the exact arithmetic (integer moment sums, then the identical double
    expression tree) so round-6 values hash-match."""
    pts = _hotspot_points(spark, sf_dir)
    cells = HS.core_cells(pts, z=6, min_points=1)
    out = HS.gi_star_cells(cells, z=6)
    return out.select(
        "cell_ix",
        "cell_iy",
        "cell_id",
        "n_points",
        "w_i",
        F.round(F.col("gi_z"), 6).alias("gi_z"),
    )


def _r6(c: Column) -> Column:
    """floor-based half-up 6-dp rounding — bit-identical across engines
    (round() disagrees on representation-boundary ties; see stay_points)."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def _q_grid_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I (operators/hotspots.morans_i_cells — Moran 1950
    with Cliff & Ord normality moments, binary 8-neighbor weights on the
    occupied z=6 cell set) over the clustered point field. All moments are
    exact integer sums; the oracle restates the identical double
    expression tree, so the single-row result hash-matches."""
    pts = _hotspot_points(spark, sf_dir)
    cells = HS.core_cells(pts, z=6, min_points=1)
    out = HS.morans_i_cells(cells, z=6)
    return out.select(
        "n_cells",
        # double: the oracle's integer sum() comes back HUGEINT -> float64
        # through pandas; the driver's typed hash needs the kinds to match
        # (the three r5 hash-reds were exactly this, values bit-identical)
        F.col("s0").cast("double").alias("s0"),
        _r6(F.col("morans_i")).alias("morans_i"),
        _r6(F.col("e_i")).alias("e_i"),
        _r6(F.col("z_i")).alias("z_i"),
    )


def _q_grid_local_morans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I / LISA (operators/hotspots.local_morans_cells —
    Anselin 1995) per occupied z=6 cell with Moran-scatterplot quadrant
    labels; isolates carry NULL lisa/quadrant (no spatial lag exists)."""
    pts = _hotspot_points(spark, sf_dir)
    cells = HS.core_cells(pts, z=6, min_points=1)
    out = HS.local_morans_cells(cells, z=6)
    return out.select(
        "cell_ix",
        "cell_iy",
        "cell_id",
        "n_points",
        "w_i",
        _r6(F.col("lisa_i")).alias("lisa_i"),
        "quadrant",
    )


def _q_cell_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend per z=6 cell over the zero-filled daily
    space-time cube (operators/spacetime) of the clustered point field —
    exact integer S / tie sums, so the oracle hash-matches bit-for-bit."""
    pts = _hotspot_points(spark, sf_dir)
    # MK consumes the cube twice (pairs + ties): materialize the bounded frame
    cube = ST.zero_fill_cube(ST.space_time_cube(pts, z=6)).localCheckpoint(eager=True)
    out = ST.mann_kendall_trend(cube)
    return out.select(
        "cell_id",
        # double x2: oracle integer sums materialize HUGEINT -> float64
        # (the r5 hash-red root cause; values bit-identical)
        F.col("t_bins").cast("double").alias("t_bins"),
        F.col("s_stat").cast("double").alias("s_stat"),
        F.round(F.col("var_s"), 6).alias("var_s"),
        F.round(F.col("mk_z"), 6).alias("mk_z"),
    )


def _q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArcGIS-style emerging-hotspot classification: per-slice Gi* on the
    zero-filled cube, Mann-Kendall over each cell's gi_z series, final
    slice decides current heat. The oracle restates the full composition
    (cube -> per-bin Gi* -> MK -> classify) with identical double
    expression trees; classification compares UNROUNDED scores on both
    sides, rounding only the displayed columns."""
    pts = _hotspot_points(spark, sf_dir)
    out = ST.emerging_hotspots(pts, z=6)
    return out.select(
        "cell_ix",
        "cell_iy",
        "cell_id",
        # double: oracle integer sum materializes HUGEINT -> float64
        # (the r5 hash-red root cause; values bit-identical)
        F.col("t_bins").cast("double").alias("t_bins"),
        F.round(F.col("mk_z"), 6).alias("mk_z"),
        F.round(F.col("gi_last"), 6).alias("gi_last"),
        "trend",
        "category",
    )


def _q_raster_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/A5: synthetic raster -> coarsened grid roll-up (y-flip pinned)."""
    r = RA.synthetic_raster(spark, width=64, height=48, nodata_every=7)
    r = RA.with_cell_coords(r, height=48, resolution=100.0)
    out = RA.resample_to_grid(r, resolution=100.0, a=4, aggregation_fun={"band1": "sum"})
    return out.select("x", "y", F.col("band1").alias("band_sum"))


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over documents + a shifted duplicate copy
    (synthesized in-query so real duplicate groups exist)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = DD.exact_duplicates(docs.unionByName(dupes), "doc_id", "text")
    return out.select("doc_id", "canonical_id", "fp", F.col("group_size").cast("long").alias("group_size"))


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_bruteforce(emb, qs, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_ann_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k via the Arrow/numpy matmul kernel (the bulk
    scale path) — same oracle as the HOF variant; 6-decimal rounding on
    both sides absorbs summation-order float differences."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_bruteforce_np(emb, qs, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN, probing EVERY list: exact-equals-brute-
    force by construction, so the exact SQL oracle gates the whole train ->
    assign -> probe -> score plumbing end-to-end (k-means assignment itself
    isn't SQL-expressible; the approximate nprobe<nlist recall dial is
    pinned vs brute force in pytest instead)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_ivf(emb, qs, k=10, nlist=32, nprobe=32)
    return out.select(
        "query_id", "vec_id", F.round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized shortlist + exact float rerank — with a wide margin
    (rerank = 20x k) the rerank restores full precision, so the oracle is
    the SAME exact top-k SQL as the brute-force variants (hash-match
    proves the quantized path loses nothing end-to-end). NOTE the match is
    margin-dependent, not structural: a true top-k member whose int8
    cosine falls below the rerank-th quantized score would be lost; int8
    error ~1e-2 makes 20x a very comfortable margin on these fixtures."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cq = SIM.quantize_embeddings(emb)
    out = SIM.cosine_topk_quantized(cq, qs, k=10, rerank=200, rerank_corpus=emb)
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


def _q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-split scan would run the language-stats chain on one core
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return (
        TS.document_stats(docs)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(TX.quality_score(F.col("text")), 6).alias("quality")
    )


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact. Random embeddings contain
    no near-dups (the round-3 oracle matched on 0 rows — trivially), so
    every 10th vector gets a PLANTED perturbed twin (element i scaled by
    1 + 0.001*i — identical double arithmetic in both engines): the
    oracle now verifies actual pair recovery, not an empty set."""
    from pygridmap_spark.functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (F.lit(1.0) + F.lit(0.001) * i)
        ).alias("embedding"),
    )
    allv = emb.unionByName(twins)
    a = allv.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = allv.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", V.cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= 0.93)
        .select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))
    )


def _q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (streaming twin runs the same
    expression via Structured Streaming)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("wstart"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("wstart").cast("long").alias("wstart_epoch"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def _q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (native session_window, gap 30 min) — the
    streaming-capable crawl/user sessionizer run in batch mode. Oracle:
    classic lag/cumsum session reconstruction in SQL (a session breaks
    when the gap to the previous event EXCEEDS 30 min — Spark merges
    touching windows, so diff == gap still merges)."""
    ev = _t(spark, sf_dir, "events")
    out = SP.sessionize(
        ev,
        key="user_id",
        ts_col="ts",
        gap="30 minutes",
        extra_aggs=[
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value")
        ],
    )
    return out.select(
        "user_id",
        F.unix_timestamp("session_start").cast("long").alias("session_start_epoch"),
        F.unix_timestamp("session_end").cast("long").alias("session_end_epoch"),
        "n_events",
        "sum_value",
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination stats (Gopher-style n-gram overlap, n=3
    on these short synthetic docs): benchmark = every 17th document, so
    benchmark members score contamination 1.0 and the rest measure true
    cross-document shingle collisions. Oracle: the whole shingle/overlap
    computation re-derived with DuckDB list lambdas."""
    # small local parquet = one split; spread the shingle explode over
    # the engine (at lake scale the scan itself has thousands of splits)
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    out = CU.contamination_stats(docs, bench, n=3)
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round("contamination", 6).alias("contamination"),
    )


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features over a corpus with injected line
    repeats (every 11th doc gets its text duplicated as a second line).
    Oracle: line split / bigram counting re-derived in DuckDB SQL."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(F.col("doc_id") % 11 == 0, F.col("text")).otherwise(
                F.concat(F.lit("unique tail "), F.col("doc_id"))
            ),
        ).alias("text"),
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    out = CU.repetition_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


def _q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain rollup over URLs synthesized from doc_id
    (deterministic in both engines: site{id%97}.{tld[id%4]}, www. on every
    5th). Spark side uses parse_url + the public-suffix when-chain; the
    oracle re-derives host/domain with regexps (the 4 synthesized TLDs
    cover both the multi-label 'co.uk' and single-label branches)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("co.uk"), F.lit("org"), F.lit("de")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    docs = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("site"), F.col("doc_id") % 97, F.lit("."), tld,
            F.lit("/cat"), F.col("doc_id") % 7, F.lit("/"), F.col("doc_id"),
        ),
    )
    out = DMN.domain_rollup(
        docs, extra_aggs=[F.sum("n_chars").cast("long").alias("sum_chars")]
    )
    return out.select(
        "registered_domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
        F.round("avg_path_depth", 6).alias("avg_path_depth"),
        "sum_chars",
    )


def _q_overlay_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolved overlay output (reference parity: gpd.dissolve over
    overlay pieces, base.py:504-516): every offset cell's 4 clip pieces
    dissolve STRICTLY (no fallback) back to the original 5000x5000 rect —
    1 polygon, 4 corners, seam vertices gone. The oracle re-derives each
    reconstructed rect arithmetically; the hash-match proves the dissolve
    returns the exact original geometry, not just the right area."""
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    base = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (5_000.0, 5_000.0))
    offset = PG.grid_layer(
        spark, (2_500.0, 2_500.0, 97_500.0, 97_500.0), (5_000.0, 5_000.0)
    ).drop("val")
    pieces = OV.grid_overlay_rects(offset, base, [], rule=None, emit_wkb=True)
    dis = OV.dissolve_pieces(pieces, group_col="cell_id", strict=True)

    def _decode(batches):
        for batch in batches:
            if not len(batch):
                continue
            rows = {
                "cell_id": batch["cell_id"], "n_pieces": batch["n_pieces"],
                "n_polys": [], "n_vertices": [],
                "xmin": [], "ymin": [], "xmax": [], "ymax": [],
                "area": batch["area"],
            }
            for buf in batch["geometry"]:
                mp = WKB.decode_multipolygon(bytes(buf))
                ring = mp[0][0]
                closed = (ring[0] == ring[-1]).all()
                rows["n_polys"].append(len(mp))
                rows["n_vertices"].append(len(ring) - (1 if closed else 0))
                rows["xmin"].append(ring[:, 0].min())
                rows["ymin"].append(ring[:, 1].min())
                rows["xmax"].append(ring[:, 0].max())
                rows["ymax"].append(ring[:, 1].max())
            yield pd.DataFrame(rows)

    out = dis.mapInPandas(
        _decode,
        "cell_id long, n_pieces long, n_polys int, n_vertices int, "
        "xmin double, ymin double, xmax double, ymax double, area double",
    )
    return out.select(
        "cell_id", "n_pieces", "n_polys", "n_vertices",
        F.round("xmin", 6).alias("xmin"), F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"), F.round("ymax", 6).alias("ymax"),
        F.round("area", 6).alias("area"),
    )


def _q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count rollup + shard-merge identity, oracle-gated:
    below the sketch's coupon-list threshold DataSketches HLL estimates
    are EXACT (pinned by the fixture's per-source cardinalities), so the
    estimate — and the per-shard-sketches-unioned-then-estimated path —
    must both hash-match plain count(DISTINCT). Proves the mergeable-
    sketch algebra end-to-end, not just approximately."""
    from pygridmap_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").withColumn(
        "shard", F.col("doc_id") % 4
    )
    whole = SK.distinct_sketch_rollup(docs, ["source"], "doc_id").select(
        "source", F.col("approx_distinct").cast("long").alias("n_distinct")
    )
    merged = SK.merge_sketch_rollups(
        SK.distinct_sketch_rollup(docs, ["source", "shard"], "doc_id"), ["source"]
    ).select(
        "source", F.col("approx_distinct").cast("long").alias("n_distinct_merged")
    )
    return whole.join(merged, "source").select(
        "source", "n_distinct", "n_distinct_merged"
    )


def _q_union_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-shape EXACT unary union (r5; reference parity with GEOS
    unary_union, base.py:504-516, for NON-rect inputs): per group, two
    overlapping congruent diamonds (45-degree edges) offset along x —
    r and d dyadic so every arrangement crossing is exactly representable.
    The union outline is the closed-form 8-vertex concave octagon with
    area 2*(2r^2) - (2r-d)^2/2; the oracle re-derives every column
    arithmetically, so the hash-match pins the arrangement partition AND
    the strict dissolve topology (1 polygon, 8 corners, exact bbox), not
    just the area."""
    import numpy as np
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)

    def _gen(batches):
        for batch in batches:
            if not len(batch):
                continue
            rows = {"cell_id": [], "geometry": []}
            for did in batch["doc_id"]:
                r = 1024.0 + 256.0 * (did % 3)
                d = 256.0 * (1 + did % 4)
                for cx in (0.0, d):
                    ring = np.array(
                        [[cx - r, 0.0], [cx, -r], [cx + r, 0.0], [cx, r]]
                    )
                    rows["cell_id"].append(did)
                    rows["geometry"].append(WKB.encode_polygon([ring]))
            yield pd.DataFrame(rows)

    diamonds = docs.mapInPandas(_gen, "cell_id long, geometry binary")
    uni = OV.union_exact_geoms(diamonds, group_col="cell_id")

    def _decode(batches):
        for batch in batches:
            if not len(batch):
                continue
            rows = {
                "cell_id": batch["cell_id"], "n_geoms": batch["n_geoms"],
                "n_polys": batch["n_polys"], "n_vertices": [],
                "xmin": [], "xmax": [], "area": batch["area"],
            }
            for buf in batch["geometry"]:
                mp = WKB.decode_multipolygon(bytes(buf))
                ring = mp[0][0]
                closed = (ring[0] == ring[-1]).all()
                rows["n_vertices"].append(len(ring) - (1 if closed else 0))
                rows["xmin"].append(ring[:, 0].min())
                rows["xmax"].append(ring[:, 0].max())
            yield pd.DataFrame(rows)

    out = uni.mapInPandas(
        _decode,
        "cell_id long, n_geoms long, n_polys long, n_vertices long, "
        "xmin double, xmax double, area double",
    )
    return out.select(
        "cell_id", "n_geoms", "n_polys", "n_vertices",
        F.round("xmin", 6).alias("xmin"),
        F.round("xmax", 6).alias("xmax"),
        F.round("area", 6).alias("area"),
    )


def _q_union_exact_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-LAYER distributed exact union (r5): 200 disjoint groups of
    two overlapping diamonds, one global layer, tiled per 2048 units by
    operators.overlay.union_exact_distributed (one block-cover pass over
    the tile lattice that clips each polygon to its boundary tiles where
    it lives, whole tiles as squares, per-tile arrangement kernel on the
    rest). Groups sit 8 tiles apart
    so they never share a tile; per group the oracle re-derives BOTH the
    closed-form union area (2*(2r^2) - (2r-d)^2/2) and the count of tiles
    the union touches (diamond-rect Manhattan-distance test in SQL) —
    hash-matching the tile decomposition itself, not just the total."""
    import numpy as np
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)

    def _gen(batches):
        for batch in batches:
            if not len(batch):
                continue
            rows = {"poly_id": [], "geometry": []}
            for did in batch["doc_id"]:
                r = 1024.0 + 256.0 * (did % 3)
                d = 256.0 * (1 + did % 4)
                cx0 = did * 16384.0 + 4100.0
                cy = 4100.0
                for j, cx in enumerate((cx0, cx0 + d)):
                    ring = np.array(
                        [[cx - r, cy], [cx, cy - r], [cx + r, cy], [cx, cy + r]]
                    )
                    rows["poly_id"].append(int(did) * 2 + j)
                    rows["geometry"].append(WKB.encode_polygon([ring]))
            yield pd.DataFrame(rows)

    diamonds = docs.mapInPandas(_gen, "poly_id long, geometry binary")
    tiles = OV.union_exact_distributed(diamonds, cell=2048.0)
    return (
        tiles.groupBy((F.col("tile_x") / 8).cast("long").alias("gid"))
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            # exact decimal accumulation (CLAUDE.md rule): a double sum's
            # 6th decimal would be partition-order-dependent for
            # non-dyadic per-tile areas
            F.round(
                F.sum(F.col("area").cast("decimal(38,10)")).cast("double"), 6
            ).alias("area"),
        )
        .select("gid", "n_tiles", "area")
    )


def _q_registered_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PSL algorithm through the broadcast-join dimension path
    (functions/urls.py with_registered_domain): plain rules, multi-label
    suffix, '*.ck' wildcard, '!www.ck' exception, bare public suffix,
    unknown TLD. The oracle re-derives the EXPECTED registered domain
    per case arithmetically — independent of the join algorithm."""
    from pygridmap_spark.functions import urls as U

    rules = spark.createDataFrame(
        [
            ("com", True, False), ("co.uk", True, False),
            ("*.ck", True, False), ("www.ck", False, True),
        ],
        "pattern string, has_rule boolean, has_exc boolean",
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    kind = F.col("doc_id") % 7
    m = (F.col("doc_id") % 50).cast("string")
    host = (
        F.when(kind == 0, F.concat(F.lit("site"), m, F.lit(".com")))
        .when(kind == 1, F.concat(F.lit("a.site"), m, F.lit(".co.uk")))
        .when(kind == 2, F.concat(F.lit("shop"), m, F.lit(".foo"), m, F.lit(".ck")))
        .when(kind == 3, F.lit("www.ck"))
        .when(kind == 4, F.concat(F.lit("sub"), m, F.lit(".www.ck")))
        .when(kind == 5, F.lit("co.uk"))
        .otherwise(F.concat(F.lit("host"), m, F.lit(".unknowntld")))
    )
    out = U.with_registered_domain(docs.withColumn("host", host), rules=rules)
    return out.select("doc_id", "host", "registered_domain")


def _q_reproject_laea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 -> EPSG:3035 (LAEA Europe) forward + round-trip inverse as
    pure column trig (functions/reproject.py; Snyder ellipsoidal formulas).
    Coordinates synthesized in the projection's domain of use from doc_id
    (exact int64 arithmetic in both engines); the oracle re-states the same
    closed-form math in DuckDB SQL. Forward rounded to 0.1 m, round-trip to
    1e-6 deg (the series truncation, ~2e-9 deg, is formula-identical on
    both sides and cancels)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    lon = F.lit(-25.0) + (F.col("doc_id") * F.lit(2654435761) % F.lit(70000)) / F.lit(1000.0)
    lat = F.lit(30.0) + (F.col("doc_id") * F.lit(2246822519) % F.lit(42000)) / F.lit(1000.0)
    df = docs.withColumns({"lon": lon, "lat": lat})
    x, y = RPJ.laea_forward(F.col("lon"), F.col("lat"))
    df = df.withColumns({"x_laea": x, "y_laea": y})
    ilon, ilat = RPJ.laea_inverse(F.col("x_laea"), F.col("y_laea"))
    return df.select(
        "doc_id",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        F.round("x_laea", 1).alias("x_laea"),
        F.round("y_laea", 1).alias("y_laea"),
        F.round(ilon, 6).alias("lon_rt"),
        F.round(ilat, 6).alias("lat_rt"),
    )


def _q_reproject_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 -> EPSG:3857 (Web Mercator) forward + exact spherical
    round-trip as pure column trig (functions/reproject.py; EPSG method
    1024 closed form — the natural companion to the engine's quadkey/tile
    machinery). Coordinates synthesized over the full domain of use from
    doc_id (exact int64 arithmetic both engines); the oracle re-states the
    same ln/sin closed form in DuckDB. Forward rounded to 0.1 m — the
    cross-engine libm spread at 2e7 m is ~1e-8 m, but a 1e-4 rounding
    boundary leaves only ~3x margin on the closest fixture value (review
    finding); 0.1 m keeps the laea oracle's 6-orders headroom. Round-trip
    to 1e-9 deg (spread ~1e-12)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    lon = F.lit(-179.9) + (F.col("doc_id") * F.lit(2654435761) % F.lit(359800)) / F.lit(1000.0)
    lat = F.lit(-85.0) + (F.col("doc_id") * F.lit(2246822519) % F.lit(170000)) / F.lit(1000.0)
    df = docs.withColumns({"lon": lon, "lat": lat})
    x, y = RPJ.webmercator_forward(F.col("lon"), F.col("lat"))
    df = df.withColumns({"x_merc": x, "y_merc": y})
    ilon, ilat = RPJ.webmercator_inverse(F.col("x_merc"), F.col("y_merc"))
    return df.select(
        "doc_id",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        F.round("x_merc", 1).alias("x_merc"),
        F.round("y_merc", 1).alias("y_merc"),
        F.round(ilon, 9).alias("lon_rt"),
        F.round(ilat, 9).alias("lat_rt"),
    )


def _s2_synth_lonlat(docs: DataFrame) -> DataFrame:
    """Whole-sphere lon/lat from doc_id (exact int64 arithmetic both
    engines; lat stops 0.1 deg short of the poles, which the pytest edge
    cases cover separately)."""
    lon = F.lit(-180.0) + (F.col("doc_id") * F.lit(2654435761) % F.lit(360000)) / F.lit(1000.0)
    lat = F.lit(-89.9) + (F.col("doc_id") * F.lit(2246822519) % F.lit(179800)) / F.lit(1000.0)
    return docs.withColumns({"lon": lon, "lat": lat})


def _q_s2_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-scheme spherical cell index at level 12 (functions/s2.py): cube
    faces + quadratic (s,t) + Hilbert curve, all Catalyst bit/trig
    expressions in one codegen span. The oracle restates the whole encode
    in DuckDB — the Hilbert unroll as a 12-step recursive CTE — so face,
    (i, j), curve position, compact id and the level-6 ancestor are all
    hash-gated. (Spherical analog of the reference's planar cell
    assignment, gridtiler.py:101-112.)"""
    docs = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    out = S2C.with_s2_index(docs, 12)
    return out.select(
        "doc_id", "s2_face", "s2_i", "s2_j", "s2_pos", "s2_compact",
        S2C.compact_parent(F.col("s2_compact"), 12, 6).alias("s2_l6"),
    )


def _q_s2_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-equal-area rollup: docs keyed to S2 level-12 cells, aggregated
    at the level-5 ancestor (pure bit-shift parent algebra) — the
    skew-resistant groupBy the S2 index exists for. Oracle: the same
    recursive-CTE encode grouped by ``compact >> 14``."""
    docs = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    out = S2C.with_s2_index(docs, 12)
    return (
        out.groupBy(S2C.compact_parent(F.col("s2_compact"), 12, 5).alias("s2_l5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )


def _q_knn_s2_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic kNN via S2 cell-ring expansion (operators/knn_sphere.py):
    exact great-circle k-nearest over whole-sphere synthetic coordinates —
    distance-correct at the poles and across the antimeridian where the
    planar cell ring is not. Oracle: brute-force chord + asin in DuckDB."""
    docs = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    pts = docs.select(F.col("doc_id").alias("point_id"), "lon", "lat")
    qs = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"), "lon", "lat"
    )
    out = KS.knn_s2(pts, qs, k=5, level=3)
    return out.select(
        "query_id",
        "point_id",
        F.round(F.col("dist"), 9).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_hex_polyfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex polyfill (functions/hexgrid.py polyfill — H3 polygonToCells
    parity, center containment): 50 synthetic axis-aligned rects in the
    LAEA plane -> every 20 km hex whose center falls inside. Rect bounds
    carry fractional offsets so no hex center ever lands exactly on a
    boundary (ray-cast half-open caveat never triggers), which makes the
    DuckDB twin pure range arithmetic: r rows via generate_series, q spans
    via the same ceil/floor-with-r/2-offset formulas."""
    import pandas as pd

    from pygridmap_spark.core import wkb as _WKB

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 50)
    xmin = F.lit(-900_000.37) + (F.col("doc_id") * F.lit(2654435761) % F.lit(1_500_000))
    ymin = F.lit(-700_000.59) + (F.col("doc_id") * F.lit(2246822519) % F.lit(1_200_000))
    wdt = F.lit(40_000.21) + (F.col("doc_id") * F.lit(40503) % F.lit(260_000))
    hgt = F.lit(40_000.43) + (F.col("doc_id") * F.lit(69997) % F.lit(260_000))
    bounds = docs.select(
        F.col("doc_id").alias("poly_id"),
        xmin.alias("_x0"), ymin.alias("_y0"),
        (xmin + wdt).alias("_x1"), (ymin + hgt).alias("_y1"),
    )

    def _encode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "poly_id": pdf["poly_id"],
                    "wkb": [
                        _WKB.encode_box(x0, y0, x1, y1)
                        for x0, y0, x1, y1 in zip(
                            pdf["_x0"], pdf["_y0"], pdf["_x1"], pdf["_y1"]
                        )
                    ],
                }
            )

    polys = bounds.mapInPandas(_encode, "poly_id long, wkb binary")
    out = HX.polyfill(polys, 20_000.0)
    return out.select("poly_id", "hex_q", "hex_r", "hex_id")


def _s2_quad_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30 synthetic geodesic quad zones on face 2 as (poly_id, wkb): each
    is a uv-RECT whose edges are straight in the face's gnomonic chart —
    i.e. true geodesics — so the zone's spherical interior equals its uv
    rect and DuckDB twins stay pure arithmetic. Fractional bounds keep
    cell centers and synthetic points off the edges."""
    import pandas as pd

    from pygridmap_spark.core import wkb as _WKB
    from pygridmap_spark.functions import s2 as _S2M

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 30)
    u0 = F.lit(-0.8123) + (F.col("doc_id") * F.lit(2654435761) % F.lit(1200)) / F.lit(1000.0)
    v0 = F.lit(-0.8457) + (F.col("doc_id") * F.lit(2246822519) % F.lit(1200)) / F.lit(1000.0)
    du = F.lit(0.0817) + (F.col("doc_id") * F.lit(40503) % F.lit(400)) / F.lit(1000.0)
    dv = F.lit(0.0693) + (F.col("doc_id") * F.lit(69997) % F.lit(400)) / F.lit(1000.0)
    bounds = docs.select(
        F.col("doc_id").alias("poly_id"),
        u0.alias("_u0"), v0.alias("_v0"),
        (u0 + du).alias("_u1"), (v0 + dv).alias("_v1"),
    )

    def _encode(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for pid, a0, b0, a1, b1 in zip(
                pdf["poly_id"], pdf["_u0"], pdf["_v0"], pdf["_u1"], pdf["_v1"]
            ):
                uu = np.array([a0, a1, a1, a0, a0])
                vv = np.array([b0, b0, b1, b1, b0])
                x, y, z = _S2M._np_face_uv_to_xyz(np.full(5, 2), uu, vv)
                n = np.sqrt(x * x + y * y + z * z)
                lon = np.degrees(np.arctan2(y, x))
                lat = np.degrees(np.arcsin(z / n))
                ring = np.column_stack([lon, lat])
                out.append(
                    {"poly_id": pid, "wkb": _WKB.encode_multipolygon([[ring]])}
                )
            yield pd.DataFrame(out)

    return bounds.mapInPandas(_encode, "poly_id long, wkb binary")


def _s2_quad_zones2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second face-2 quad family (60 zones, independent hash constants) —
    the right side of the polygon x polygon join fixture."""
    import pandas as pd

    from pygridmap_spark.core import wkb as _WKB
    from pygridmap_spark.functions import s2 as _S2M

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 60)
    u0 = F.lit(-0.8311) + (F.col("doc_id") * F.lit(1327217885) % F.lit(1130)) / F.lit(1000.0)
    v0 = F.lit(-0.7961) + (F.col("doc_id") * F.lit(2971215073) % F.lit(1190)) / F.lit(1000.0)
    du = F.lit(0.0509) + (F.col("doc_id") * F.lit(28657) % F.lit(299)) / F.lit(1000.0)
    dv = F.lit(0.0451) + (F.col("doc_id") * F.lit(514229) % F.lit(347)) / F.lit(1000.0)
    bounds = docs.select(
        F.col("doc_id").alias("poly_id"),
        u0.alias("_u0"), v0.alias("_v0"),
        (u0 + du).alias("_u1"), (v0 + dv).alias("_v1"),
    )

    def _encode(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for pid, a0, b0, a1, b1 in zip(
                pdf["poly_id"], pdf["_u0"], pdf["_v0"], pdf["_u1"], pdf["_v1"]
            ):
                uu = np.array([a0, a1, a1, a0, a0])
                vv = np.array([b0, b0, b1, b1, b0])
                x, y, z = _S2M._np_face_uv_to_xyz(np.full(5, 2), uu, vv)
                n = np.sqrt(x * x + y * y + z * z)
                ring = np.column_stack(
                    [np.degrees(np.arctan2(y, x)), np.degrees(np.arcsin(z / n))]
                )
                out.append(
                    {"poly_id": pid, "wkb": _WKB.encode_multipolygon([[ring]])}
                )
            yield pd.DataFrame(out)

    return bounds.mapInPandas(_encode, "poly_id long, wkb binary")


def _q_zones_intersect_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic polygon x polygon intersects join (operators/pip_sphere.py
    zones_intersect_s2): candidates from the classified-cover cell
    equi-join, interior-interior shared cells decide with zero geometry,
    the rest refine exactly (vertex winding + representative interior
    point + transversal arc crossings). Both layers are face-2 uv-rect
    quads — gnomonic straightness makes spherical interior overlap equal
    uv interval overlap, so the oracle is pure rect arithmetic while
    Spark runs the full cover + refine machinery."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    out = _PIP.zones_intersect_s2(
        _s2_quad_zones(spark, sf_dir), _s2_quad_zones2(spark, sf_dir), 6
    )
    return out.select("poly_id_l", "poly_id_r")


def _q_s2_polyfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 polyfill (functions/s2.polyfill — geodesic polygonToCells at a
    fixed level) over the face-2 uv-rect quad zones (_s2_quad_zones): the
    DuckDB twin is pure arithmetic (st<->uv quadratic closed form +
    ceil/floor center ranges) while Spark runs the REAL machinery
    (bounding cap -> cover cells -> winding-number ray cast on unit
    vectors)."""
    from pygridmap_spark.functions import s2 as _S2M

    out = _S2M.polyfill(
        _s2_quad_zones(spark, sf_dir), 7,
        candidates_partitions=spark.sparkContext.defaultParallelism,
    )
    return out.select(
        "poly_id",
        F.col("s2_face").cast("long").alias("s2_face"),
        "s2_i", "s2_j",
    )


def _q_pip_s2_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic point-in-polygon join (operators/pip_sphere.py
    point_in_polygon_s2): whole-sphere synthetic points tagged by the
    face-2 quad zone layer via the classified S2 cover — interior cells
    tag by the (face, i, j) equi-join alone, boundary cells run the exact
    winding refine. Oracle: a point is in a quad iff its gnomonic face-2
    (u, v) lies in the uv rect — face selection + uv ratios restated in
    DuckDB, zero geometry."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    out = _PIP.point_in_polygon_s2(
        pts, _s2_quad_zones(spark, sf_dir), 7,
        candidates_partitions=spark.sparkContext.defaultParallelism,
    )
    return out.select("doc_id", "poly_id")


def _q_region_filter_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-prune region filter (operators/pip_sphere.py region_filter):
    each quad zone compiles to <= 64 mixed-level covering ranges
    (functions/s2.covering), the coalesced OR-of-BETWEEN predicate
    filters the point stream on the leaf cell id, and one Arrow pass
    assigns + winding-refines the survivors. Same membership semantics as
    pip_s2_zones through entirely different machinery — the oracle is the
    identical face-2 uv-rect arithmetic."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    out = _PIP.region_filter(
        pts, _s2_quad_zones(spark, sf_dir), max_cells=64, max_level=12
    )
    return out.select("doc_id", "poly_id")


def _q_geodesic_zone_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact geodesic zone area + area-weighted density
    (operators/pip_sphere.geodesic_area + point_in_polygon_s2): each
    face-2 uv-rect quad zone gets its EXACT spherical area — fan
    spherical-excess over the WKB rings (core/sphere.spherical_ring_area,
    Van Oosterom & Strackee) — and a points-per-million-km^2 density from
    the geodesic PIP join: the area-true zonal statistic a planar
    shoelace misstates on the sphere (reference counterpart: GEOS .area
    after pyproj reprojection, base.py). Oracle: a uv rect's solid angle
    has the classic pyramid closed form (inclusion-exclusion of
    atan2(u*v, sqrt(1+u^2+v^2))) and membership is the same uv-range
    arithmetic as pip_s2_zones — pure DuckDB arithmetic, zero geometry."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    zones = _s2_quad_zones(spark, sf_dir)
    areas = _PIP.geodesic_area(
        zones, wkb_col="wkb", out_col="area_sr", km2_col="area_km2"
    )
    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    cnt = (
        _PIP.point_in_polygon_s2(
            pts, zones, 7,
            candidates_partitions=spark.sparkContext.defaultParallelism,
        )
        .groupBy("poly_id")
        .agg(F.count("*").alias("n_points"))
    )
    out = areas.join(cnt, "poly_id", "left").na.fill({"n_points": 0})
    return out.select(
        "poly_id",
        F.round("area_sr", 9).alias("area_sr"),
        F.round("area_km2", 3).alias("area_km2"),
        F.col("n_points").cast("long").alias("n_points"),
        F.round(F.col("n_points") / F.col("area_km2") * F.lit(1e6), 6).alias(
            "density_mkm2"
        ),
    )


def _q_geodesic_zone_perimeter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact geodesic zone perimeter + spherical compactness
    (operators/pip_sphere.geodesic_length + geodesic_area): each face-2
    uv-rect quad zone gets its EXACT boundary length — per-edge
    great-circle arcs atan2(|a x b|, a . b) over the WKB vertices
    (core/sphere.arc_lengths, norm-free and stable near zero/antipodal)
    — and the spherical isoperimetric quotient A(4pi - A) / P^2 (== 1
    for a spherical cap), the shape statistic whose planar analog the
    reference reads off GEOS ``.length`` after reprojection. Oracle: the
    quad edges are gnomonic-straight, so each edge is one arc between
    unnormalized corner vectors (-u, -v, 1) — four atan2 terms of pure
    rect arithmetic, and the area term is the same pyramid closed form
    as geodesic_zone_area. Two independent derivations again: vertex-fan
    over decoded WKB vs corner closed form (measured agreement 2e-15 rad
    against 1e-2-of-a-unit rounding boundaries)."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    zones = _s2_quad_zones(spark, sf_dir)
    out = _PIP.geodesic_length(
        zones, wkb_col="wkb", out_col="length_rad", km_col="length_km"
    )
    out = _PIP.geodesic_area(out, wkb_col="wkb", out_col="_sr")
    four_pi = F.lit(4.0 * 3.141592653589793)
    return out.select(
        "poly_id",
        F.round("length_rad", 9).alias("length_rad"),
        F.round("length_km", 3).alias("length_km"),
        F.round(
            F.col("_sr")
            * (four_pi - F.col("_sr"))
            / (F.col("length_rad") * F.col("length_rad")),
            6,
        ).alias("compactness"),
    )


def _q_geodesic_zone_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact spherical centroid per zone
    (operators/pip_sphere.geodesic_centroid): the direction of the
    region's vector area int_S rhat dOmega, which Stokes collapses to
    (1/2) sum theta_i * nhat_i over the great-circle edges — the label/
    representative point the reference reads off GEOS ``.centroid``
    after planar reprojection, misplaced at high latitude by the planar
    chart. Oracle: the quad edges are gnomonic-straight, so each edge
    term is atan2(|a x b|, a . b) / |a x b| * (a x b) between
    unnormalized corner vectors (-u, -v, 1) — with az = bz = 1 the cross
    collapses to (ay - by, bx - ax, ax*by - ay*bx); four terms of rect
    arithmetic, then lon/lat from the summed vector. Two independent
    derivations: WKB vertex edges vs corner closed form (measured
    agreement 2e-12 deg vs 1.4e-2-of-a-unit rounding boundaries)."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    zones = _s2_quad_zones(spark, sf_dir)
    out = _PIP.geodesic_centroid(
        zones, wkb_col="wkb", lon_col="centroid_lon", lat_col="centroid_lat"
    )
    return out.select(
        "poly_id",
        F.round("centroid_lon", 6).alias("centroid_lon"),
        F.round("centroid_lat", 6).alias("centroid_lat"),
    )


def _q_geodesic_zone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused one-pass zonal statistics
    (operators/pip_sphere.geodesic_stats): exact area, boundary length,
    centroid, and isoperimetric compactness from ONE WKB decode + ONE
    unit-vector lift per ring (core/sphere.multipolygon_stats) — the
    operator a lake-scale zonal-statistics pass should run instead of
    chaining three kernels that each re-pay the decode (the dominant
    per-zone cost; chained-vs-fused A/B in BENCH/BASELINE.md). Values
    are bit-identical to the chained operators; the oracle is the union
    of the three independent closed-form derivations (pyramid solid
    angle, four edge arcs, summed edge-normal vector) in pure DuckDB
    arithmetic."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    out = _PIP.geodesic_stats(_s2_quad_zones(spark, sf_dir), wkb_col="wkb")
    return out.select(
        "poly_id",
        F.round("area_sr", 9).alias("area_sr"),
        F.round("area_km2", 3).alias("area_km2"),
        F.round("length_rad", 9).alias("length_rad"),
        F.round("length_km", 3).alias("length_km"),
        F.round("centroid_lon", 6).alias("centroid_lon"),
        F.round("centroid_lat", 6).alias("centroid_lat"),
        F.round("compactness", 6).alias("compactness"),
    )


def _q_zone_border_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic distance-to-border enrichment
    (operators/pip_sphere.zone_border_depth): every point tagged by the
    geodesic PIP join gets its EXACT great-circle distance to the
    containing zone's boundary — the distance-to-coastline /
    distance-to-admin-border statistic. Spark runs the real machinery
    (classified S2 cover PIP + one broadcast join + the point-to-arc
    kernel with foot-on-arc/endpoint logic); the oracle collapses on the
    fixture: each quad edge's great circle is the gnomonic plane
    u = const (x + u0*z = 0) or v = const, so the depth is
    least(asin(|x + u*z| / sqrt(1 + u^2)), ...) over the four edges —
    exact equality holds because the fixture quads are spherically
    convex, where an interior point's nearest boundary point is always a
    perpendicular foot (the planar inscribed-circle argument lifts to
    the sphere). Measured agreement 1e-15 rad vs >=2.5e-4-of-a-unit
    rounding boundaries at every driver scale."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    zones = _s2_quad_zones(spark, sf_dir)
    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    tagged = _PIP.point_in_polygon_s2(pts, zones, 7)
    out = _PIP.zone_border_depth(
        tagged, zones, out_col="depth_rad", km_col="depth_km"
    )
    return out.select(
        "doc_id",
        "poly_id",
        F.round("depth_rad", 9).alias("depth_rad"),
        F.round("depth_km", 3).alias("depth_km"),
    )


def _q_route_corridor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic route-corridor enrichment (operators/trajectories.
    route_corridor): every synthetic page position gets its exact
    great-circle distance to the nearest of 6 hashed 5-vertex route
    polylines (perpendicular-foot-on-arc else nearer-endpoint, min over
    every arc; core/sphere.min_polyline_arc_dist) plus the nearest
    route's id (ties to the smaller id). The oracle restates the FULL
    cross-product foot test per (point, segment) in DuckDB SQL — the
    kernel's reductions are written elementwise in the same IEEE order
    (sphere._pdot), leaving only libm-transcendental 1-ulp drift (numpy's
    vectorized arccos/arcsin differ from libm on ~28 % of inputs —
    measured), so the display floor is 1e-6 rad (~6 m; boundary-flip
    probability ~1e-7 per run, vs ~1e-4 at a 1e-9 floor). Argmin by
    row_number over (dist, route_id) — route gaps are macroscopic."""
    from pygridmap_spark.operators import trajectories as _TJ

    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    s = F.col("id")
    routes = spark.range(30).select(
        F.expr("id DIV 5").alias("route_id"),
        (s % F.lit(5)).alias("seq"),
        (F.lit(-180.0) + ((s * F.lit(48271) + F.lit(7)) % F.lit(3600000)).cast("double") / F.lit(10000.0)).alias("lon"),
        (F.lit(-60.0) + ((s * F.lit(69621) + F.lit(13)) % F.lit(1200000)).cast("double") / F.lit(10000.0)).alias("lat"),
    )
    out = _TJ.route_corridor(pts, routes)
    return out.select(
        "doc_id",
        "nearest_route",
        (F.floor(F.col("route_dist_rad") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "route_dist_rad"
        ),
    )


def _route_corridor_oracle_sql() -> str:
    # The numpy kernel's expression tree restated per (point, segment):
    # clip-dot endpoint angles, n = a x b, foot-on-arc iff (a x p).nh >= 0
    # and (p x b).nh >= 0, perp = asin(clip(|p.nh|)); argmin by
    # (dist, route_id) — identical tie semantics to the kernel's
    # ascending-id strict-< update.
    return """
        WITH pts AS (
            SELECT doc_id,
                   -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                   -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
            FROM documents
        ),
        p AS (
            SELECT doc_id,
                   cos(radians(lat)) * cos(radians(lon)) AS px,
                   cos(radians(lat)) * sin(radians(lon)) AS py,
                   sin(radians(lat)) AS pz
            FROM pts
        ),
        rv AS (
            SELECT s // 5 AS route_id, s % 5 AS seq,
                   -180.0 + ((s * 48271 + 7) % 3600000) / 10000.0 AS lon,
                   -60.0 + ((s * 69621 + 13) % 1200000) / 10000.0 AS lat
            FROM generate_series(0, 29) AS t(s)
        ),
        rx AS (
            SELECT route_id, seq,
                   cos(radians(lat)) * cos(radians(lon)) AS x,
                   cos(radians(lat)) * sin(radians(lon)) AS y,
                   sin(radians(lat)) AS z
            FROM rv
        ),
        seg0 AS (
            SELECT route_id, seq, x AS ax, y AS ay, z AS az,
                   lead(x) OVER w AS bx, lead(y) OVER w AS by_,
                   lead(z) OVER w AS bz
            FROM rx
            WINDOW w AS (PARTITION BY route_id ORDER BY seq)
        ),
        seg AS (
            SELECT *,
                   ay * bz - az * by_ AS nx,
                   az * bx - ax * bz AS ny,
                   ax * by_ - ay * bx AS nz
            FROM seg0 WHERE bx IS NOT NULL
        ),
        cand AS (
            SELECT p.doc_id, seg.route_id,
                   acos(CASE WHEN px*ax + py*ay + pz*az > 1.0 THEN 1.0
                             WHEN px*ax + py*ay + pz*az < -1.0 THEN -1.0
                             ELSE px*ax + py*ay + pz*az END) AS da,
                   acos(CASE WHEN px*bx + py*by_ + pz*bz > 1.0 THEN 1.0
                             WHEN px*bx + py*by_ + pz*bz < -1.0 THEN -1.0
                             ELSE px*bx + py*by_ + pz*bz END) AS db,
                   sqrt(nx*nx + ny*ny + nz*nz) AS nn,
                   nx, ny, nz,
                   px, py, pz, ax, ay, az, bx, by_, bz
            FROM p CROSS JOIN seg
        ),
        dist AS (
            SELECT doc_id, route_id,
                   CASE WHEN nn <= 1e-15 THEN least(da, db)
                        WHEN (ay*pz - az*py) * (nx/nn)
                             + (az*px - ax*pz) * (ny/nn)
                             + (ax*py - ay*px) * (nz/nn) >= 0.0
                         AND (py*bz - pz*by_) * (nx/nn)
                             + (pz*bx - px*bz) * (ny/nn)
                             + (px*by_ - py*bx) * (nz/nn) >= 0.0
                        THEN asin(CASE WHEN abs(px*(nx/nn) + py*(ny/nn)
                                                + pz*(nz/nn)) > 1.0
                                       THEN 1.0
                                       ELSE abs(px*(nx/nn) + py*(ny/nn)
                                                + pz*(nz/nn)) END)
                        ELSE least(da, db) END AS d
            FROM cand
        ),
        ranked AS (
            SELECT doc_id, route_id, d,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY d, route_id) AS rn
            FROM dist
        )
        SELECT doc_id, route_id AS nearest_route,
               floor(d * 1e6 + 0.5) / 1e6 AS route_dist_rad
        FROM ranked WHERE rn = 1
    """


def _q_domain_geo_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group geographic dispersion (operators/domains.geo_dispersion):
    the spherical mean direction, resultant length R and spherical
    variance 1-R of each pseudo-domain's page positions — the
    directional-statistics footprint of a domain's crawl, pure Catalyst
    (one trig projection + one partial-aggregated hash agg, zero UDFs).
    quantize=9 engages the repo's oracle-determinism idiom: unit-vector
    components rounded to 9 decimals and summed as EXACT decimals, so
    Spark's arbitrary partial-agg order and DuckDB's scan order cannot
    diverge (float sums are order-dependent; decimal sums of pre-rounded
    values are not). Oracle: identical arithmetic in DuckDB."""
    from pygridmap_spark.operators import domains as _DOM

    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    grp = pts.withColumn("domain_key", F.col("doc_id") % F.lit(41))
    out = _DOM.geo_dispersion(grp, "domain_key", quantize=9)
    return out.select(
        F.col("domain_key").cast("long").alias("domain_key"),
        F.col("n").cast("long").alias("n"),
        F.round("centroid_lon", 6).alias("centroid_lon"),
        F.round("centroid_lat", 6).alias("centroid_lat"),
        F.round("resultant_len", 9).alias("resultant_len"),
        F.round("sph_variance", 9).alias("sph_variance"),
    )


def _q_s2_cell_area_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-area-corrected S2 density rollup (functions/s2.cell_area_sr):
    whole-sphere points -> level-12 index -> level-6 parent cell (i, j
    bit shift) -> count divided by the cell's EXACT spherical area from
    the pyramid solid-angle closed form, a pure Catalyst expression (zero
    Python, inside WholeStageCodegen). The correction matters: S2's
    quadratic st chart leaves a ~2x max/min cell-area spread that a bare
    count-per-cell rollup silently inherits. Oracle: the identical closed
    form restated in DuckDB over i >> 6."""
    docs = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    grp = (
        S2C.with_s2_index(docs, 12)
        .groupBy(
            "s2_face",
            F.shiftright(F.col("s2_i"), 6).alias("i6"),
            F.shiftright(F.col("s2_j"), 6).alias("j6"),
        )
        .agg(F.count("*").alias("n_docs"))
    )
    area = S2C.cell_area_sr(F.col("i6"), F.col("j6"), 6, km2=True)
    return grp.select(
        "s2_face",
        "i6",
        "j6",
        "n_docs",
        F.round(area, 3).alias("area_km2"),
        F.round(F.col("n_docs") / area * F.lit(1e6), 6).alias("density_mkm2"),
    )


def _q_s2_cell_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell outline corners (functions/s2.py py_cell_corners /
    cell_outline_wkb): the vector form of a cell — st (0,0)(1,0)(1,1)(0,1)
    corners through the quadratic st->uv closed form and the per-face
    gnomonic lift, as plain lon/lat columns. Oracle: the identical
    arithmetic restated in DuckDB (no Hilbert needed — corners are pure
    face/i/j math). Rounded to 9 decimals both sides."""
    import pandas as pd

    from pygridmap_spark.functions import s2 as _S2M

    lev = 5
    pts = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    enc = _S2M.with_s2_face_ij(pts, lev)

    def _corners(batches):
        for pdf in batches:
            lon, lat = _S2M.py_cell_corners(
                pdf["s2_face"].to_numpy(), pdf["s2_i"].to_numpy(),
                pdf["s2_j"].to_numpy(), lev,
            )
            out = pdf[["doc_id", "s2_face", "s2_i", "s2_j"]].copy()
            for k in range(4):
                out[f"c{k}_lon"] = lon[:, k]
                out[f"c{k}_lat"] = lat[:, k]
            yield out

    schema = (
        "doc_id long, s2_face int, s2_i long, s2_j long, "
        + ", ".join(f"c{k}_lon double, c{k}_lat double" for k in range(4))
    )
    out = enc.mapInPandas(_corners, schema)
    rounded = {f"c{k}_{ax}": F.round(F.col(f"c{k}_{ax}"), 9)
               for k in range(4) for ax in ("lon", "lat")}
    return out.withColumns(rounded).select(
        "doc_id", F.col("s2_face").cast("long").alias("s2_face"),
        "s2_i", "s2_j",
        *[f"c{k}_{ax}" for k in range(4) for ax in ("lon", "lat")],
    )


def _q_s2_cells_to_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cells -> vector dissolve (functions/s2.py cells_to_wkb): each
    group's level-5 cell set dissolves to an exact geodesic outline
    multipolygon through the REAL machinery (strict shared-edge dissolve
    in integer ij space + quadratic st->uv + gnomonic lift), one grouped
    exchange via util.grouped_rows_sorted. Groups are deterministic
    w x h ij-rects, so the outline is a 4-corner geodesic quad whose
    corners the oracle re-derives in closed form (the same face/st/uv
    arithmetic as the hash-green s2_cell_corners twin); min/max/sum over
    the decoded ring vertices are order-independent pins of all four."""
    import pandas as pd

    from pygridmap_spark.core import wkb as _WKBM
    from pygridmap_spark.functions import s2 as _S2M

    d = F.col("doc_id")
    g = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(d < 40)
        .select(
            d.alias("poly_id"),
            (d % 6).cast("int").alias("s2_face"),
            ((d * 7) % 24).alias("i0"),
            ((d * 11) % 26).alias("j0"),
            (F.lit(1) + d % 5).alias("w"),
            (F.lit(1) + (d * 3) % 4).alias("h"),
        )
    )
    cells = g.select(
        "poly_id",
        "s2_face",
        F.explode(F.sequence(F.col("i0"), F.col("i0") + F.col("w") - 1)).alias("s2_i"),
        "j0",
        "h",
    ).select(
        "poly_id",
        "s2_face",
        "s2_i",
        F.explode(F.sequence(F.col("j0"), F.col("j0") + F.col("h") - 1)).alias("s2_j"),
    )
    out = _S2M.cells_to_wkb(cells, 5)

    def _stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                vs = np.vstack(
                    [
                        ring[:-1]  # rings are closed; count each corner once
                        for poly in _WKBM.decode_multipolygon(bytes(r["wkb"]))
                        for ring in poly
                    ]
                )
                rows.append(
                    {
                        "poly_id": r["poly_id"],
                        "s2_face": r["s2_face"],
                        "n_polys": r["n_polys"],
                        "n_vertices": r["n_vertices"],
                        "min_lon": vs[:, 0].min(),
                        "max_lon": vs[:, 0].max(),
                        "min_lat": vs[:, 1].min(),
                        "max_lat": vs[:, 1].max(),
                        "sum_lon": vs[:, 0].sum(),
                        "sum_lat": vs[:, 1].sum(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "poly_id", "s2_face", "n_polys", "n_vertices",
                    "min_lon", "max_lon", "min_lat", "max_lat",
                    "sum_lon", "sum_lat",
                ],
            )

    stats = out.mapInPandas(
        _stats,
        "poly_id long, s2_face int, n_polys int, n_vertices int, "
        "min_lon double, max_lon double, min_lat double, max_lat double, "
        "sum_lon double, sum_lat double",
    )
    # min/max commute with the monotone rounding; sums round at 6 to
    # absorb cross-engine ulp ordering
    return stats.select(
        "poly_id", "s2_face", "n_polys", "n_vertices",
        *[F.round(F.col(c), 9).alias(c) for c in ("min_lon", "max_lon", "min_lat", "max_lat")],
        *[F.round(F.col(c), 6).alias(c) for c in ("sum_lon", "sum_lat")],
    )


def _q_within_radius_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic radius join (operators/knn_sphere.py within_radius_s2):
    every point within 400 km great-circle distance of each query via a
    single-level S2 cover (level 3 here) — one <=9-cell cover per query,
    ONE (face, i, j) equi-join, chord refine. Exact incl. poles /
    antimeridian / cube edges. Oracle: brute-force chord filter in
    DuckDB with the identical Python-float chord threshold."""
    docs = _s2_synth_lonlat(_t(spark, sf_dir, "documents").select("doc_id"))
    pts = docs.select(F.col("doc_id").alias("point_id"), "lon", "lat")
    qs = docs.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("query_id"), "lon", "lat"
    )
    out = KS.within_radius_s2(pts, qs, 400_000.0)
    return out.select(
        "query_id", "point_id", F.round(F.col("dist"), 9).alias("dist")
    )


def _q_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-analog hex rollup (functions/hexgrid.py): docs in the LAEA domain
    of use -> EPSG:3035 forward (Catalyst trig) -> 50 km hex binning (axial
    transform + cube rounding, pure arithmetic) -> per-hex aggregation with
    unpacked cell centers. Hexes on the equal-area plane have EXACTLY equal
    ground area — the property H3's icosahedral machinery approximates.
    Oracle: the same Snyder forward + hex math restated in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lon = F.lit(-25.0) + (F.col("doc_id") * F.lit(2654435761) % F.lit(70000)) / F.lit(1000.0)
    lat = F.lit(30.0) + (F.col("doc_id") * F.lit(2246822519) % F.lit(42000)) / F.lit(1000.0)
    x, y = RPJ.laea_forward(lon, lat)
    df = HX.with_hex_index(docs.withColumns({"x": x, "y": y}), 50_000.0)
    agg = df.groupBy("hex_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    q, r = HX.unpack(F.col("hex_id"))
    cx, cy = HX.center(q, r, 50_000.0)
    return agg.select(
        "hex_id", "n_docs", "chars",
        F.round(cx, 1).alias("cx"), F.round(cy, 1).alias("cy"),
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (the data-mixing primitive):
    keep iff md5-hash bucket < the stratum's fraction — reproducible
    across runs/partitionings/engines; the oracle re-derives the identical
    md5 arithmetic in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = SMP.stratified_sample(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        strata_col="source", key_col="doc_id",
        seed="mix-v1", default_fraction=0.1,
    )
    return out.select("doc_id", "source")


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample — Efraimidis-Spirakis A-ES):
    25 docs per lang, weight = n_chars, ranked by ln(md5-uniform)/w.
    Spark selects via the histogram + threshold-bucket machinery
    (topk_by_group — no per-group single-partition sort); the oracle is
    the naive full row_number window over the identical md5/ln
    arithmetic in DuckDB. Scores round via the floor trick."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = SMP.weighted_sample(
        docs, 25, "n_chars", by="lang", key_col="doc_id",
        seed="es-v1", score_out="score",
    )
    return out.select(
        "doc_id",
        "lang",
        (F.floor(F.col("score") * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)).alias("score"),
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-split sequence packing bookkeeping (per-shard
    window cumsum; shard = doc_id % 8, capacity 2048 tokens, n_chars as
    the token proxy). Oracle: the same cumsum arithmetic as a SQL window."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 8).alias("shard"), "n_chars"
    )
    out = PKG.pack_sequences(
        docs, max_tokens=2048, token_col="n_chars",
        order_col="doc_id", shard_col="shard",
    )
    return out.select("doc_id", "shard", "seq_id", "seq_offset", "n_seqs")


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (window 256, overlap 64, n_chars
    as the token proxy) — zero-shuffle projection + explode. Oracle: the
    same chunk-count/start arithmetic via generate_series."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = PKG.chunk_documents(docs, window=256, overlap=64, token_col="n_chars")
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_start", "chunk_end",
    )


def _q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus vocabulary (tf + document frequency, deterministic
    tf-desc/term tie-break). Oracle: the same explode/agg/top-k in SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TS.term_frequencies(docs, top_k=200).select(
        "term", F.col("tf").cast("long").alias("tf"), F.col("df").cast("long").alias("df")
    )


def _q_user_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (operators/temporal.time_weighted_avg):
    per-user LOCF mean of the event value stream. The weighted sum
    accumulates floor(value*1e6) * dt_us in decimal(38) — exact
    integers, order-free — and twap is ONE pinned division, so the
    oracle (the identical lead-window + HUGEINT fixed-point arithmetic
    in DuckDB) hash-gates a float statistic a naive float sum could
    never pin cross-engine."""
    from pygridmap_spark.operators import temporal as _TP

    ev = _t(spark, sf_dir, "events")
    return _TP.time_weighted_avg(
        ev, by=["user_id"], tie_col="event_id"
    ).select("user_id", "n", "span_us", "twap")


def _q_kde_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartic-kernel grid density (operators/kde.kde_grid, h=5000 over
    the 100001^2 event scatter): the kernel numerator (4h^2 - 4d^2)^2
    is INTEGER on integer coordinates, so the per-cell sums — an entire
    density SURFACE — hash-gate against the brute-force ring
    restatement in DuckDB (HUGEINT squares there, decimal(38) here,
    same integers). kde is the one pinned final division by 16 h^4."""
    from pygridmap_spark.operators import kde as _KD

    ev = _t(spark, sf_dir, "events").select("event_id")
    e = F.col("event_id")
    pts = ev.select(
        ((e * F.lit(2654435761)) % F.lit(100001)).alias("x"),
        ((e * F.lit(1103515245)) % F.lit(100001)).alias("y"),
    )
    return _KD.kde_grid(pts, 5000).select(
        "cell_x", "cell_y", "kernel_sum", "kde"
    )


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change detection (operators/snapshots.snapshot_diff):
    documents vs a planted next-day version (doc_id%10==3 deleted,
    ==5 n_chars bumped, ==7 re-inserted under shifted ids). One
    null-safe full-outer join + md5 row fingerprints (string casts,
    RS-framed NULL sentinel, US separator — the oracle-checkable-hash
    idiom); unchanged rows filtered before anything downstream. Oracle:
    the identical fingerprints + IS NOT DISTINCT FROM outer join in
    DuckDB, hash-gated."""
    from pygridmap_spark.operators import snapshots as _SN

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    m = F.col("doc_id") % 10
    new = (
        docs.filter(m != 3)
        .withColumn(
            "n_chars",
            F.when(m == 5, F.col("n_chars") + 7).otherwise(
                F.col("n_chars")
            ),
        )
        .unionByName(
            docs.filter(m == 7).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "lang", "source", "n_chars",
            )
        )
    )
    return _SN.snapshot_diff(docs, new, ["doc_id"]).select(
        "doc_id", "change_type", "old_fp", "new_fp"
    )


def _q_event_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket bars (operators/temporal.bucket_bars): hourly
    open/high/low/close/count + fixed-point sum per event_type. ONE
    partial-aggregated shuffle (min_by/max_by picks keyed on
    (unix_micros, event_id) — deterministic at equal timestamps); the
    sum is sum(floor(value*1e6)) as int64, the exact-accumulation
    discipline that makes a distributed float rollup hash-gateable.
    Oracle: row_number first/last windows + the identical fixed-point
    arithmetic in DuckDB."""
    from pygridmap_spark.operators import temporal as _TP

    ev = _t(spark, sf_dir, "events")
    return _TP.bucket_bars(
        ev, 3600, by=["event_type"], tie_col="event_id"
    ).select(
        "event_type", "bucket_start", "n", "open", "high", "low",
        "close", "sum_scaled",
    )


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversions (operators/temporal.funnel_steps):
    view -> click -> purchase per user, each step strictly after the
    previous and the whole chain within 7 days of the first view.
    Greedy earliest-match semantics; each step is one filtered
    partial-agg min joined to a monotonically shrinking user frame.
    Oracle: the identical greedy chain as DuckDB CTEs (min-after-prev
    joins), counts unioned."""
    from pygridmap_spark.operators import temporal as _TP

    ev = _t(spark, sf_dir, "events")
    return _TP.funnel_steps(
        ev, ["view", "click", "purchase"], within_seconds=7 * 86400
    )


def _q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC text-mode record parsing (sources/warc): every doc is
    serialized as a two-record WARC blob (response carrying the first
    80 chars of its text + a metadata record) via warc_record, then
    parse_warc explodes it back. The oracle computes the GROUND TRUTH
    rows directly from the same inputs (no parser in the loop), so the
    round-trip must recover types, URIs, declared lengths, and
    md5-gated bodies exactly — zero-shuffle split/locate/substr chain
    on the Spark side."""
    from pygridmap_spark.sources import warc as _WC

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = F.substring(F.col("text"), 1, 80)
    u1 = F.concat(
        F.lit("https://h"), F.col("doc_id") % 20, F.lit(".com/p"),
        F.col("doc_id"),
    )
    b2 = F.concat(F.lit("meta "), F.col("doc_id"))
    blob = F.concat(
        _WC.warc_record(
            F.lit("response"), u1, F.lit("2026-01-01T00:00:00Z"), b1
        ),
        _WC.warc_record(
            F.lit("metadata"), u1, F.lit("2026-01-01T00:00:01Z"), b2
        ),
    )
    out = _WC.parse_warc(docs.select("doc_id", blob.alias("warc")))
    return out.select(
        "doc_id", "record_idx", "warc_type", "target_uri",
        "content_length", F.md5("body").alias("body_md5"),
    )


def _q_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection (operators/temporal.
    rolling_zscore): each event's value against its trailing 16-event
    per-user window. Every operand is an exact fixed-point integer and
    the mean/var/z chain is division/multiply/sqrt only (no libm), so z
    is BIT-IDENTICAL across engines — the anomaly flag can gate on the
    raw z without a rounding layer. Oracle: identical window + HUGEINT
    sums in DuckDB."""
    from pygridmap_spark.operators.temporal import rolling_zscore

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_zscore(ev, 16, tie_col="event_id")
    return out.select(
        "event_id",
        "user_id",
        (F.floor(F.col("z") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("z"),
        F.coalesce(F.abs(F.col("z")) >= F.lit(2.5), F.lit(False)).alias("is_anomaly"),
    )


def _q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap intake (operators/robots.parse_sitemaps): per-doc synthetic
    sitemap XML (two <url> entries with lastmod/priority, an extra
    <sitemap> child on every 7th doc) exploded to entries; zero-shuffle
    regexp chain. Oracle: unnest(regexp_extract_all) + identical field
    extracts in DuckDB."""
    from pygridmap_spark.operators import robots as _RB

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ds = F.col("doc_id").cast("string")
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    xml = F.concat(
        F.lit("<urlset><url><loc>https://h"), ds, F.lit(".ex/p1</loc><lastmod>2024-01-"),
        day, F.lit("</lastmod><priority>0."), (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url><url><loc> https://h"), ds, F.lit(".ex/p2 </loc></url>"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("<sitemap><loc>https://h"), ds, F.lit(".ex/child.xml</loc></sitemap>")),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    frame = docs.select(
        F.concat(F.lit("https://h"), ds, F.lit(".ex/sitemap.xml")).alias("sitemap_url"),
        xml.alias("xml"),
    )
    return _RB.parse_sitemaps(frame)


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness scheduling (operators/frontier.
    crawl_schedule): a 25-host frontier with heavy priority ties
    (doc_id*7919 % 50) so the url tie-break is really exercised; round =
    per-host rank under (priority desc NULLS LAST, url asc), plus the
    host queue length. One host-keyed window exchange. Oracle: the
    identical window in DuckDB."""
    from pygridmap_spark.operators import frontier as _FR

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = (F.col("doc_id") % 25).cast("string")
    f = docs.select(
        F.concat(F.lit("https://h"), h, F.lit(".example/p"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("h"), h).alias("host"),
        (F.col("doc_id") * 7919 % 50).alias("pri"),
    )
    out = _FR.crawl_schedule(f, priority_col="pri")
    return out.select(
        "url", "host", "pri",
        F.col("round").cast("long").alias("round"),
        F.col("n_queued").cast("long").alias("n_queued"),
    )


def _q_robots_allow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parse + URL allow/deny (operators/robots): 20 hosts
    with three robots.txt shapes (star-only, star + specific 'bot'
    group, inapplicable-group), urls in five path shapes per doc. Pins
    RFC 9309 group selection (specific beats '*'), longest-literal-
    prefix precedence, allow-wins-ties, and allowed-by-default — the
    oracle restates the ENTIRE parse (line explode, comment strip,
    UA-run block windows, group selection) and the match (prefix join +
    precedence window) in DuckDB, hash-gated."""
    from pygridmap_spark.operators import robots as RB

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.col("doc_id") % 20
    hosts = docs.select(h.alias("h")).distinct()
    content = (
        F.when(
            F.col("h") % 3 == 0,
            F.lit("User-agent: *\nDisallow: /private\nAllow: /private/ok"),
        )
        .when(
            F.col("h") % 3 == 1,
            F.lit(
                "User-agent: *\nDisallow: /\n\nUser-agent: bot\n"
                "Disallow: /beta\nAllow: /beta/docs"
            ),
        )
        .otherwise(F.lit("# closed\nUser-agent: other\nDisallow: /"))
    )
    rob = hosts.select(
        F.concat(F.lit("h"), F.col("h"), F.lit(".com")).alias("host"),
        content.alias("robots_txt"),
    )
    kind = F.col("doc_id") % 5
    path = (
        F.when(kind == 0, F.concat(F.lit("/private/a"), F.col("doc_id")))
        .when(kind == 1, F.lit("/private/ok/b"))
        .when(kind == 2, F.lit("/beta/x"))
        .when(kind == 3, F.lit("/beta/docs/y"))
        .otherwise(F.lit(""))
    )
    urls = docs.select(
        F.concat(F.lit("https://h"), h, F.lit(".com"), path).alias("url")
    )
    rules = RB.parse_robots(rob, "bot")
    return RB.check_urls(urls, rules).select(
        "url", "host", "allowed", "rule_path"
    )


def _q_ripley_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K pair counts + K-hat (operators/pointpattern) over 4
    point clouds derived from events (multiplicative-hash coords in a
    100001^2 window). The operator runs the cell-bucketed 3x3-ring
    candidate equi-join with one conditional-agg pass for all radii; the
    oracle brute-forces the identical all-pairs counts in DuckDB — an
    asymptotically different algorithm that must agree count-for-count.
    All-integer squared-distance tests, so counts hash-gate; K-hat is
    one pinned IEEE expression over exact integers (same op order both
    engines)."""
    from pygridmap_spark.operators import pointpattern as _PP

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    e = F.col("event_id")
    pts = ev.select(
        (F.col("user_id") % 4).alias("g"),
        F.col("event_id").alias("id"),
        ((e * F.lit(2654435761)) % F.lit(100001)).alias("x"),
        ((e * F.lit(1103515245)) % F.lit(100001)).alias("y"),
    )
    out = _PP.ripley_k(
        pts, [500, 2000, 10000], area=100001 * 100001, by=["g"]
    )
    return out.select("g", "r", "n_pairs", "n_points", "k_hat")


def _q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull (operators/hulls.convex_hull_points) over 20
    integer point clouds derived from events (multiplicative-hash coords
    in ±50000 — int64 orientation tests exact on both engines). The
    operator runs Andrew's monotone chain; the oracle gift-wraps the same
    clouds in a DuckDB recursive CTE — two different hull algorithms that
    must agree vertex-for-vertex, position-for-position (canonical CCW
    from the smallest (x, y), collinear edge points excluded)."""
    from pygridmap_spark.operators import hulls as _HL

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    pts = ev.select(
        (F.col("user_id") % 20).alias("g"),
        ((e * F.lit(2654435761)) % F.lit(100001) - F.lit(50000)).alias("x"),
        ((e * F.lit(1103515245)) % F.lit(100001) - F.lit(50000)).alias("y"),
    )
    return _HL.convex_hull_points(pts, "g", x="x", y="y")


def _q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters (operators/sketches.cm_sketch family):
    per-shard (doc_id % 4) sketches over the shared normalized token
    stream, cm_merge'd to a global sketch, point-queried for the exact
    top-50 terms. The oracle rebuilds the IDENTICAL sketch in DuckDB
    (same md5 probe arithmetic, 60-bit hex prefix mod width) and takes
    the same min-over-rows — the merge algebra and the overestimate
    property are hash-gated, not tolerance-checked, because the whole
    pipeline is integer."""
    from pygridmap_spark.operators import sketches as _SK

    depth, width = 4, 2048
    # single-split local scan would serialize the explode + md5 probe
    # chain onto one core (lake-scale scans have thousands of splits)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalized(F.col("text")))).alias("term"),
    ).filter(F.col("term") != "")
    sharded = toks.withColumn("shard", F.col("doc_id") % 4)
    per_shard = _SK.cm_sketch(
        sharded, "term", depth=depth, width=width, by=["shard"]
    )
    merged = _SK.cm_merge(per_shard)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    cand = exact.orderBy(F.col("tf").desc(), "term").limit(50)
    est = _SK.cm_lookup(merged, cand.select("term"), "term", depth, width)
    return cand.join(est, "term").select("term", "tf", "cm_est")


def _q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership sketch (operators/sketches.bloom_sketch family —
    the MEMBERSHIP member of the sketch family next to HLL / count-min /
    HDR): per-shard (doc_id % 4) 16128-bit filters over the shared
    normalized token stream, bloom_merge'd word-wise, then probed with
    the exact top-100 terms (all must verdict TRUE — no false negatives)
    plus 50 never-seen terms. The oracle rebuilds the IDENTICAL filter in
    DuckDB (same md5 probe arithmetic, 63-bit words so the signed shift
    stays in range on both engines) — the merge algebra and every verdict
    are hash-gated, not tolerance-checked, because the whole pipeline is
    integer bit-ops."""
    from pygridmap_spark.operators import sketches as _SK

    words, k = 256, 4
    # single-split local scan would serialize the explode + md5 probe
    # chain onto one core (lake-scale scans have thousands of splits)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalized(F.col("text")))).alias("term"),
    ).filter(F.col("term") != "")
    sharded = toks.withColumn("shard", F.col("doc_id") % 4)
    per_shard = _SK.bloom_sketch(sharded, "term", words=words, k=k, by=["shard"])
    merged = _SK.bloom_merge(per_shard)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    present = (
        exact.orderBy(F.col("tf").desc(), "term")
        .limit(100)
        .select("term", F.lit(True).alias("expected_present"))
    )
    absent = docs.filter(F.col("doc_id") < 50).select(
        F.concat(F.lit("absent-"), F.col("doc_id")).alias("term"),
        F.lit(False).alias("expected_present"),
    )
    cand = present.unionByName(absent)
    got = _SK.bloom_contains(merged, cand, "term", words=words, k=k)
    return cand.join(got, "term").select(
        "term", "expected_present", "maybe_present"
    )


def _q_hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR quantile sketch (operators/quantiles — the quantile member of
    the sketch triad next to HLL and count-min): per-(lang, source)
    shard sketches over document n_chars, hdr_merge'd per lang, then
    p50/p90/p99 extracted. Pure-integer bucketing (length(bin(v)) — no
    libm anywhere), so the oracle rebuilds the identical sketch, cumsum
    and rank pick in DuckDB and the result hash-gates; values below
    2^(p+1) sit in the identity regime where the estimate IS the exact
    discrete quantile."""
    from pygridmap_spark.operators import quantiles as _Q

    p = 6
    docs = _t(spark, sf_dir, "documents").select("lang", "source", "n_chars")
    shards = _Q.hdr_sketch(docs, "n_chars", by=["lang", "source"], p=p)
    merged = _Q.hdr_merge(shards.drop("source"), by=["lang"])
    return _Q.hdr_quantiles(merged, [0.5, 0.9, 0.99], by=["lang"], p=p)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (functions/pii): detection counts + redacted text
    over documents with deterministically planted PII (emails / IPv4s /
    international phones synthesized from doc_id — exact int64 + string
    concat arithmetic reproducible in SQL). Pure Catalyst regexp, zero
    shuffle, zero Python; patterns restricted to the Java-regex/RE2
    agreement subset so the oracle re-runs the identical three-pass
    count + redact in DuckDB and the md5 of the redacted text hash-gates
    byte identity."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = (F.col("doc_id") % 50).cast("string")
    cc = (F.col("doc_id") % 30 + 20).cast("string")
    kind = F.col("doc_id") % 5
    base = F.substring(F.col("text"), 1, 30)
    ptext = (
        F.when(kind == 0, F.concat(
            base, F.lit(" contact user"), m, F.lit("@example"), m,
            F.lit(".com for details")))
        .when(kind == 1, F.concat(
            base, F.lit(" origin 10."), m, F.lit(".0."), m,
            F.lit(" call +44 "), cc, F.lit(" 7946 0958")))
        .when(kind == 2, F.col("text"))
        .when(kind == 3, F.concat(
            F.lit("dual a"), m, F.lit("@b"), m, F.lit(".org and 192.168."),
            m, F.lit(".9 plus c"), m, F.lit("@d"), m, F.lit(".net")))
        .otherwise(F.concat(
            F.lit("ref "), m, F.lit(" phone +1 800-555-0199 end")))
    )
    df = docs.select("doc_id", ptext.alias("text"))
    out = PI.with_pii_redacted(PI.with_pii_stats(df))
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phones").cast("long").alias("n_phones"),
        "has_pii",
        F.md5("text_redacted").alias("redacted_md5"),
    )


def _q_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL dedup (functions/urls.canonical_url +
    dedup_by_canonical_url): URLs synthesized from doc_id with planted
    duplicate groups that only canonicalization collapses (case/default
    port/fragment/tracking-param variants of the same resource). The
    operator keys its one exchange on xxhash64(canonical); the oracle
    groups on the canonical STRING — equivalent up to a 2^-64 collision,
    the same equivalence the minhash oracle uses. Output: surviving
    doc_id + canonical form, hash-gated."""
    from pygridmap_spark.functions import urls as U

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = (F.col("doc_id") % 50).cast("string")
    k = F.col("doc_id") % 7
    url = (
        F.when(k == 0, F.concat(
            F.lit("HTTPS://WWW.Example"), m, F.lit(".COM:443/Path/"), m,
            F.lit("?utm_source=x&id="), m, F.lit("#frag")))
        .when(k == 1, F.concat(
            F.lit("https://www.example"), m, F.lit(".com/Path/"), m,
            F.lit("?id="), m))
        .when(k == 2, F.concat(
            F.lit("http://Site"), m, F.lit(".org:80/a/b?utm_campaign=c")))
        .when(k == 3, F.concat(F.lit("http://site"), m, F.lit(".org/a/b")))
        .when(k == 4, F.concat(
            F.lit("https://example"), m, F.lit(".com/?gclid=abc"), m))
        .when(k == 5, F.concat(F.lit("https://example"), m, F.lit(".com/")))
        .otherwise(F.concat(
            F.lit("ftp://Files.example"), m, F.lit(".net/x"),
            F.col("doc_id").cast("string")))
    )
    df = docs.select("doc_id", url.alias("url"))
    out = U.dedup_by_canonical_url(df)
    return out.select("doc_id", "canonical_url")


def _q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host link-graph extraction (operators/linkgraph.host_link_graph):
    HTML synthesized from doc_id (two cross-host links per page, plus a
    same-host nav link on every 4th page that drop_self must remove);
    pair aggregation with n_links + distinct n_pages. Oracle re-runs the
    identical href regex via unnest(regexp_extract_all) in DuckDB and the
    same group-by — hash-gated."""
    from pygridmap_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    s = (F.col("doc_id") % 30).cast("string")
    a = ((F.col("doc_id") * 3 + 1) % 40).cast("string")
    b = ((F.col("doc_id") * 7 + 2) % 40).cast("string")
    url = F.concat(
        F.lit("https://s"), s, F.lit(".example/p"),
        F.col("doc_id").cast("string"),
    )
    html = F.concat(
        F.lit('<a href="https://t'), a, F.lit('.example/x'),
        F.col("doc_id").cast("string"), F.lit('">1</a> mid '),
        F.lit('<a href="http://t'), b, F.lit('.example/y">2</a>'),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(' <a href="https://s'), s,
                     F.lit('.example/self">nav</a>')),
        ).otherwise(F.lit("")),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return LG.host_link_graph(pages)


def _q_host_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link reciprocity per host (operators/linkgraph.host_reciprocity —
    the link-farm signal): a 40-host directed graph from doc_id
    arithmetic (two out-edges per doc), distinct-pair collapse, reversed
    pair semi-join, ratio = one IEEE division of exact integers (no
    rounding needed — identical operands both engines). Oracle restates
    pairs/semi-join/rollup in DuckDB."""
    from pygridmap_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = docs.select((i % 40).alias("src_host"), ((i * 3 + 1) % 40).alias("dst_host"))
    e2 = docs.select((i % 40).alias("src_host"), ((i * 7 + 2) % 40).alias("dst_host"))
    return LG.host_reciprocity(e1.unionByName(e2))


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer PageRank (operators/linkgraph.pagerank_int,
    3 iterations) over a 40-host graph whose weighted edges come from
    doc_id arithmetic. Every operation is int64 (rank DIV out_w * w;
    base + 85%*sum DIV 100), so the oracle unrolls the identical three
    iterations as DuckDB CTEs and the ranks hash-gate EXACTLY — the
    reproducibility-by-construction contract the float formulation
    cannot give."""
    from pygridmap_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select(
        (F.col("doc_id") % 40).alias("s"),
        ((F.col("doc_id") * 3 + 1) % 40).alias("d"),
    )
    edges = raw.groupBy("s", "d").agg(F.count(F.lit(1)).alias("w"))
    out = LG.pagerank_int(
        edges, iterations=3, src_col="s", dst_col="d", weight_col="w"
    )
    return out.select(F.col("host").cast("long").alias("host"), "rank")


def _q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer HITS (operators/linkgraph.hits_int, 2
    iterations) over a 37-host graph whose weighted edges come from
    doc_id arithmetic. Every operation is int64 (hub*w sums, then
    (x*scale) DIV max(total, 1) L1 normalization), so the oracle unrolls
    the identical two iterations as DuckDB CTEs with scalar-subquery
    totals and the (hub, auth) scores hash-gate EXACTLY — the same
    reproducibility-by-construction contract as host_pagerank_int, for
    the other classic link-analysis algorithm."""
    from pygridmap_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select(
        (F.col("doc_id") % 37).alias("s"),
        ((F.col("doc_id") * 5 + 2) % 37).alias("d"),
    )
    edges = raw.groupBy("s", "d").agg(F.count(F.lit(1)).alias("w"))
    out = LG.hits_int(
        edges, iterations=2, src_col="s", dst_col="d", weight_col="w"
    )
    return out.select(
        F.col("host").cast("long").alias("host"), "hub", "auth"
    )


def _q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle participation counts
    (operators/linkgraph.host_triangles — the Schank-Wagner degree-
    ordered node-iterator) over a 29-host modular graph with two edge
    families per doc. The operator orients edges by (degree, host);
    the oracle enumerates each triangle once via the plain a<b<c
    lexicographic double-join and unpivots the three members — the
    counts are orientation-invariant, so the two enumerations must
    agree exactly (hash-gated)."""
    from pygridmap_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    edges = docs.select(
        h(F.col("doc_id") % 29).alias("src_host"),
        h((F.col("doc_id") * 3 + 1) % 29).alias("dst_host"),
    ).unionByName(
        docs.select(
            h((F.col("doc_id") * 5 + 2) % 29).alias("src_host"),
            h((F.col("doc_id") * 7 + 3) % 29).alias("dst_host"),
        )
    )
    return LG.host_triangles(edges).select(
        "host", F.col("n_triangles").cast("long").alias("n_triangles")
    )


def _q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text term index (operators/linkgraph.anchor_text_index):
    synthetic pages carry two absolute-target anchors whose text bodies
    cycle through a 6-phrase vocabulary (with case + hyphen coverage),
    plus a self anchor on every 5th page that drop_self must remove.
    Oracle re-runs the identical whole-tag regex, group extraction and
    [^a-z0-9]+ term split in DuckDB — hash-gated."""
    from pygridmap_spark.operators import linkgraph as LG

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    phrases = F.array(
        F.lit("alpha beta"), F.lit("beta gamma"), F.lit("Gamma-Delta"),
        F.lit("delta"), F.lit("epsilon zeta"), F.lit("zeta alpha"),
    )
    s = (F.col("doc_id") % 30).cast("string")
    a = ((F.col("doc_id") * 3 + 1) % 40).cast("string")
    b = ((F.col("doc_id") * 7 + 2) % 40).cast("string")
    t1 = F.element_at(phrases, (F.col("doc_id") % 6 + 1).cast("int"))
    t2 = F.element_at(phrases, ((F.col("doc_id") * 5 + 3) % 6 + 1).cast("int"))
    url = F.concat(
        F.lit("https://s"), s, F.lit(".example/p"),
        F.col("doc_id").cast("string"),
    )
    html = F.concat(
        F.lit('<a href="https://t'), a, F.lit('.example/x">'), t1,
        F.lit("</a> mid "),
        F.lit('<a href="http://t'), b, F.lit('.example/y">'), t2,
        F.lit("</a>"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(' <a href="https://s'), s,
                     F.lit('.example/self">home nav</a>')),
        ).otherwise(F.lit("")),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return LG.anchor_text_index(pages).select(
        "dst_host", "term",
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("n_src_hosts").cast("long").alias("n_src_hosts"),
    )


def _q_template_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template clustering by DOM tag-sequence fingerprint
    (operators/curation.template_fingerprint): four synthetic page
    templates (mixed-case tags, self-closing br, attribute noise)
    wrap each doc's text; the clusters must recover exactly the four
    tag sequences with per-template page/host counts and the min-url
    representative. Oracle re-runs the identical tag regex +
    array_to_string + group-by in DuckDB — hash-gated."""
    from pygridmap_spark.operators import curation as C

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = (F.col("doc_id") % 30).cast("string")
    body = F.substring(F.col("text"), 1, 40)
    k = F.col("doc_id") % 4
    html = (
        F.when(k == 0, F.concat(
            F.lit("<html><Body><h1>t</h1><p>"), body,
            F.lit("</p></body></html>")))
        .when(k == 1, F.concat(
            F.lit("<html><body><p>"), body,
            F.lit("</p><p>x</p></body></html>")))
        .when(k == 2, F.concat(
            F.lit('<div class="m"><span>'), body, F.lit("</span></div>")))
        .otherwise(F.concat(
            F.lit("<article><p>"), body, F.lit("</p><br/></article>")))
    )
    url = F.concat(
        F.lit("https://s"), s, F.lit(".example/p"),
        F.col("doc_id").cast("string"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return C.template_fingerprint(pages).select(
        "signature",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
        "example_url",
    )


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (functions/text.html_to_text): each doc's
    text wrapped in a synthetic page (title, style, script, entities,
    comment); the extraction must strip the chrome and preserve the
    original single-spaced text VERBATIM inside the output
    (contains_text gates the byte-identity story through intake).
    Zero-shuffle regexp chain; oracle re-runs the identical chain in
    DuckDB, md5 hash-gated."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>D"), F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style></head><body><p>"),
        F.col("text"),
        F.lit('</p><script>var a="<b>junk</b>";</script>'),
        F.lit("<div>tail &amp; end</div><!-- note --></body></html>"),
    )
    extracted = TX.html_to_text(html)
    return docs.select(
        "doc_id",
        F.md5(extracted).alias("extract_md5"),
        F.length(extracted).cast("long").alias("n_chars"),
        (F.instr(extracted, F.col("text")) > 0).alias("contains_text"),
    )


def _q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML metadata extraction (functions/text.html_title /
    html_meta_content / html_canonical): synthetic pages where title /
    description / canonical are present, entity-laden, attribute-flipped,
    or absent by id residue — the zero-shuffle regexp chain must recover
    each or NULL. Oracle re-runs the identical chain in DuckDB (the
    pattern strings are shared via the functions' own helpers)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    i = F.col("doc_id")
    ds = i.cast("string")
    html = F.concat(
        F.when(i % 4 != 0, F.concat(F.lit("<head><title>Doc &amp; "), ds, F.lit("  x</title>"))).otherwise(F.lit("<head>")),
        F.when(
            i % 3 != 0,
            F.concat(F.lit('<meta name="description" content="'), F.col("source"), F.lit(' &quot;page&quot;">')),
        ).otherwise(
            F.concat(F.lit("<meta content='flip "), F.col("lang"), F.lit("' name='description'>"))
        ),
        F.when(i % 5 != 0, F.concat(F.lit('<link rel="canonical" href="https://ex.com/d/'), ds, F.lit('?a=1&amp;b=2">'))).otherwise(F.lit("")),
        F.lit("</head><body><p>body</p></body>"),
    )
    return docs.select(
        "doc_id",
        TX.html_title(html).alias("title"),
        TX.html_meta_content(html).alias("meta_desc"),
        TX.html_canonical(html).alias("canonical"),
    )


def _html_meta_oracle_sql() -> str:
    # The tested DuckDB twin of the extraction chain (test_html_meta
    # pins the parity per-case); patterns come from the SAME helper
    # functions the Spark chain uses.
    def q(p: str) -> str:
        return p.replace("'", "''")

    ent = ("replace(replace(replace(replace(replace(replace({x}, "
           "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
           "'&quot;', '\"'), '&#39;', ''''), '&amp;', '&')")
    sq = "nullif(trim(regexp_replace({x}, '\\s+', ' ', 'g')), '')"
    title = sq.format(x=ent.format(
        x=f"regexp_extract(html, '{q(TX.HTML_TITLE_PATTERN)}', 1)"))
    ma = f"regexp_extract(html, '{q(TX._attr_after('meta', 'name', 'description', 'content'))}', 1)"
    mb = f"regexp_extract(html, '{q(TX._attr_after_rev('meta', 'content', 'name', 'description'))}', 1)"
    meta = sq.format(x=ent.format(x=f"CASE WHEN {ma} != '' THEN {ma} ELSE {mb} END"))
    ca = f"regexp_extract(html, '{q(TX._attr_after('link', 'rel', 'canonical', 'href'))}', 1)"
    cb = f"regexp_extract(html, '{q(TX._attr_after_rev('link', 'href', 'rel', 'canonical'))}', 1)"
    canon = f"nullif(trim(CASE WHEN {ca} != '' THEN {ca} ELSE {cb} END), '')"
    return f"""
        WITH pages AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 4 != 0
                         THEN '<head><title>Doc &amp; ' || CAST(doc_id AS VARCHAR) || '  x</title>'
                         ELSE '<head>' END)
                   || (CASE WHEN doc_id % 3 != 0
                            THEN '<meta name="description" content="' || source || ' &quot;page&quot;">'
                            ELSE '<meta content=''flip ' || lang || ''' name=''description''>' END)
                   || (CASE WHEN doc_id % 5 != 0
                            THEN '<link rel="canonical" href="https://ex.com/d/' || CAST(doc_id AS VARCHAR) || '?a=1&amp;b=2">'
                            ELSE '' END)
                   || '</head><body><p>body</p></body>' AS html
            FROM documents
        )
        SELECT doc_id, {title} AS title, {meta} AS meta_desc, {canon} AS canonical
        FROM pages
    """


def _q_quality_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language top-fraction selection (operators/selection.
    topfrac_by_group — histogram + threshold-bucket refine, no per-group
    global sort). Scores are an exact integer-derived quotient
    ((doc_id*7919 % 37)/37.0 — bit-identical IEEE both engines, heavy
    ties so the doc_id tie-break is really exercised); the heuristic
    quality_score formula itself is gated separately by quality_scores.
    Oracle: plain window row_number selection in DuckDB. Display rounding
    via floor(x*1e6+0.5)/1e6 (the cross-engine-safe form — pure IEEE ops,
    no engine rounding library)."""
    from pygridmap_spark.operators import selection as _SEL

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        ((F.col("doc_id") * 7919 % 37) / F.lit(37.0)).alias("q"),
    )
    out = _SEL.topfrac_by_group(
        docs, 0.6, by="lang", score_col="q", id_col="doc_id", buckets=16
    )
    return out.select(
        "doc_id", "lang",
        (F.floor(F.col("q") * 1e6 + F.lit(0.5)) / 1e6).alias("quality"),
    )


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 retrieval (operators/textstats.bm25_topk) for a fixed
    4-term query over the documents corpus. Oracle restates the token
    pipeline, Lucene idf, and length normalization with identical folded
    constants; ranks come from unrounded scores on both engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TS.bm25_topk(docs, ["hash", "join", "vector", "broadcast"], k=25)
    return out.select(
        "doc_id",
        "n_terms",
        F.round(F.col("score"), 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training prep (operators/tokenize.bpe_merge_steps):
    3 merge steps over the top-200 term-frequency table of the documents
    corpus (Sennrich get_stats weighting, greedy left-to-right merge as
    ONE literal replace — identical non-overlapping scan semantics both
    engines). The oracle restates all 3 ROUNDS in DuckDB: pair counts
    from the framed-symbol encoding, argmax with the lexicographic
    tie-break, the same literal rewrite."""
    from pygridmap_spark.operators import tokenize as _TK

    words = TS.term_frequencies(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), top_k=200
    ).select("term", "tf")
    out, _merges = _TK.bpe_merge_steps(words, 3, word_col="term", freq_col="tf")
    return out.select(
        F.col("term").alias("word"),
        F.col("tf").alias("freq"),
        F.array_join("symbols", " ").alias("sym_str"),
    )


def _bpe_oracle_sql() -> str:
    # k=3 rounds generated mechanically; S is the \x01 symbol frame.
    from pygridmap_spark.operators.tokenize import SEP as S

    rounds = []
    for i in range(3):
        rounds.append(f"""
        sy{i} AS (
            SELECT word, freq,
                   string_split(trim(enc, '{S}'), '{S}{S}') AS syms, enc
            FROM w{i}
        ),
        p{i} AS (
            SELECT pr[1] AS l, pr[2] AS r, sum(freq) AS cnt
            FROM (SELECT freq,
                         unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pr
                  FROM sy{i} WHERE len(syms) >= 2)
            GROUP BY 1, 2
        ),
        b{i} AS (SELECT l, r FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
        w{i + 1} AS (
            -- LEFT JOIN ON true + CASE: an empty p{i} (no pair left)
            -- must restate the operator's EARLY STOP (words unchanged),
            -- not cross-join everything away to zero rows
            SELECT word, freq,
                   CASE WHEN l IS NULL THEN enc
                        ELSE replace(enc, '{S}' || l || '{S}{S}' || r || '{S}',
                                     '{S}' || l || r || '{S}') END AS enc
            FROM sy{i} LEFT JOIN b{i} ON true
        )""")
    return f"""
        WITH toks AS (
            SELECT doc_id, t AS term
            FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts FROM documents),
                 unnest(ts) AS u(t)
            WHERE t != ''
        ),
        top AS (
            SELECT term, count(*) AS tf FROM toks GROUP BY term
            ORDER BY tf DESC, term LIMIT 200
        ),
        w0 AS (
            SELECT term AS word, tf AS freq,
                   regexp_replace(term, '(.)', '{S}\\1{S}', 'g') AS enc
            FROM top
        ),{",".join(rounds)}
        SELECT word, freq,
               array_to_string(string_split(trim(enc, '{S}'), '{S}{S}'), ' ')
                   AS sym_str
        FROM w3
    """


def _q_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy quality scoring (operators/textstats.
    lm_xent_score — the CCNet-style filter), self-trained on the
    documents corpus with add-1 smoothing. Cross-engine exactness by
    construction: ln is pinned per DISTINCT TERM to fixed-point
    floor(lp*1e9+0.5), per-doc accumulation is exact integer decimal(38),
    and xent is one pinned IEEE division chain rounded by the floor
    trick. Oracle restates the identical arithmetic in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TS.lm_xent_score(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("xent") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("xent"),
    )


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate line removal (MassiveText line dedup):
    every even doc gets an injected 'SHARED HEADER' first line, which
    crosses the min_docs threshold and is stripped everywhere; output is
    md5 of the rebuilt text + the per-doc removal count. Oracle: the same
    frequency/filter/reassembly with DuckDB list lambdas."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("SHARED HEADER\n"), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = CU.line_dedup(docs, min_docs=10)
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
    )


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText PARAGRAPH dedup — line_dedup with sep='\\n\\n': every
    even doc gets an injected shared promo paragraph, which crosses the
    min_docs threshold and is stripped everywhere; odd docs (and paragraph
    structure inside kept docs) survive byte-identically. Oracle: the
    same frequency/filter/reassembly with the two-newline separator."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("SHARED PROMO PARAGRAPH\n\n"), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = CU.line_dedup(docs, min_docs=10, sep="\n\n")
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        F.col("n_lines_removed").cast("long").alias("n_paras_removed"),
    )


def _q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-SPAN removal at token granularity
    (operators/curation.duplicate_span_removal — the ExactSubstr analog,
    Lee et al. 2022): any 5-gram occurring in >= 2 distinct documents is
    stripped from every document carrying it. Planted structure: every
    7th doc gets a shared 10-token boilerplate prefix (its interior
    5-grams cross the threshold; the prefix->content boundary grams are
    doc-specific and survive), and every 9th doc gets a verbatim clone
    at id+100000 (both twins end fully removed — the remove-from-all
    convention). The natural small-vocabulary gram collisions of the
    synthetic corpus are part of the fixture — the oracle re-derives the
    identical pipeline on n-gram STRINGS in DuckDB while the Spark side
    exchanges xxhash64 keys (equal up to 64-bit collisions, the minhash
    contract); n_tokens/n_removed are engine-exact integers and
    text_clean an exact string, so the output hash-gates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = (
        "subscribe to our newsletter today for daily updates and "
        "exclusive offers"
    )
    withb = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(boiler + " "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    clones = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    corpus = withb.unionByName(clones).repartition(
        spark.sparkContext.defaultParallelism
    )
    return CU.duplicate_span_removal(corpus, ngram_n=5, min_docs=2)


def _q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line + page cleaning (operators/curation.c4_clean) over
    documents with planted defects: doc_id%4==1 appends a no-punctuation
    line plus a good sentence, %4==2 prepends a javascript line, %4==3
    appends ' { lorem ipsum' (tripping both page blacklists). The oracle
    restates the identical line predicate with DuckDB list lambdas
    (literal last-char test — not '$', which diverges across regex
    engines on final '\\r')."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.col("text"),
                F.lit("\nbad line no punct\nGood sentence with many words here."),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("Uses javascript heavily everywhere today.\n"), F.col("text")),
        )
        .when(F.col("doc_id") % 4 == 3, F.concat(F.col("text"), F.lit(" { lorem ipsum")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = CU.c4_clean(docs)
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        "n_lines_kept",
        "n_lines_removed",
        "sentence_count",
        "keep_doc",
    )


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (operators/curation.gopher_quality)
    over documents with planted rule-trippers: doc_id%7==1 word-count
    fail, %7==2 '#'-symbol flood, %7==3 bullet-line flood, %7==4
    ellipsis-line flood, %7==5 digit-only words (alpha + stop-word
    fail). Every ratio is a single int/int division, so the oracle
    (identical list-lambda arithmetic in DuckDB) hash-matches the
    doubles bit-for-bit."""
    # single-split scan would run the rule kernel on one core
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 1, F.lit("short."))
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.repeat(F.lit("# "), 100), F.col("text")),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.repeat(F.lit("• item\n"), 40), F.col("text")),
        )
        .when(
            F.col("doc_id") % 7 == 4,
            F.concat(F.repeat(F.lit("more...\n"), 40), F.col("text")),
        )
        .when(F.col("doc_id") % 7 == 5, F.repeat(F.lit("12345 67890 "), 60))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = CU.gopher_quality(docs)
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        "stop_hits",
        "keep_doc",
    )


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs. Oracle (round 3): per-doc signatures
    from the independent fixture twin (fixtures/gen_oracle_fixtures.py),
    banding + exact-Jaccard verify re-derived ENTIRELY in DuckDB SQL (band
    keys compared as signature slices — bucket-hash equality on the Spark
    side is equivalent up to a 2^-64 xxhash collision)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    # single-split local scan would serialize the Arrow signature kernel
    # onto one core (lake-scale scans have thousands of splits)
    corpus = docs.unionByName(mutated).repartition(
        spark.sparkContext.defaultParallelism
    )
    return DD.minhash_lsh_pairs(corpus, jaccard_threshold=0.5)


def _q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997) — the quote/inclusion
    detector: every 9th document gets an extended twin (its full text
    wrapped in intro/outro padding), so the planted pairs surface at
    containment_a = 1.0 even though their Jaccard is well below any
    near-dup threshold. The freq cap (12) genuinely drops boilerplate
    shingles at this scale (the padding trigrams on 56 twins). Oracle:
    the whole postings/cap/pair/containment pipeline re-derived on
    shingle STRINGS in DuckDB (the Spark side exchanges xxhash64 keys —
    equal overlap up to 64-bit collisions, the minhash contract); each
    containment is one IEEE division of engine-exact integers, so the
    doubles hash-gate without rounding."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(
            F.lit("intro prefix words here "),
            F.col("text"),
            F.lit(" closing remark tail words"),
        ).alias("text"),
    )
    corpus = docs.unionByName(quotes).repartition(
        spark.sparkContext.defaultParallelism
    )
    out = DD.shingle_containment_pairs(
        corpus, containment_threshold=0.5, max_shingle_freq=12
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.col("overlap").cast("long").alias("overlap"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        "containment_a",
        "containment_b",
    )


def _q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Oracle (round 3): fixture-twin signatures,
    pigeonhole blocking + bit_count(xor) Hamming verify re-derived in
    DuckDB SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dupes).repartition(
        spark.sparkContext.defaultParallelism
    )
    out = DD.simhash_near_duplicates(corpus, max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN. Oracle (round 3): fixture-twin signatures; the
    multiprobe bucket walk (11 XOR masks at planes=10, b=1), candidate
    join, exact cosine and top-k window all re-derived in DuckDB SQL — the
    oracle reproduces the APPROXIMATE result, not just a recall bound."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_lsh(emb, qs, k=10, planes=10)
    return out.select(
        "query_id", "vec_id", F.round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_overlay_rule_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 overlay rule: cell takes attrs of its most-overlapping polygon
    (ties by ascending poly_id)."""
    base = PG.grid_layer(spark, (0.0, 0.0, 100_000.0, 100_000.0), (5_000.0, 5_000.0))
    offset = PG.grid_layer(
        spark, (1_000.0, 2_000.0, 96_000.0, 97_000.0), (5_000.0, 5_000.0)
    ).drop("val")
    out = OV.grid_overlay_rects(offset, base, ["val"], rule="max", area=True)
    return out.select(
        "cell_id",
        F.col("val"),
        F.round(F.col("piece_area"), 6).alias("piece_area"),
        F.round(F.col("area_pct"), 9).alias("area_pct"),
    )


def _spread_sql(col: str) -> str:
    # 64-bit Morton spreading (31 bits/axis) — mirrors cellindex._spread_bits
    e = f"({col} & {0xFFFFFFFF})"
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        e = f"((({e} | ({e} << {shift})) & {mask}))"
    return e


_HOTSPOT_PTS_SQL = """
            pts AS (
                SELECT event_id, ts,
                       CASE WHEN event_id % 37 = 0
                            THEN -180.0 + (event_id * 1103515245 % 360000) / 1000.0
                            ELSE -150.0 + (event_id % 12) * 25.0
                                 + (event_id * 2654435761 % 9000) / 1000.0 - 4.5 END AS lon,
                       CASE WHEN event_id % 37 = 0
                            THEN -85.0 + (event_id * 12345 % 170000) / 1000.0
                            ELSE -33.0 + (event_id % 7) * 11.0
                                 + (event_id * 40503 % 5000) / 1000.0 - 2.5 END AS lat
                FROM events
            )"""


def _hotspot_core_sql(min_points: int) -> str:
    """CTE text (pts/cells0/core) shared by the grid_hotspots and
    grid_gi_star oracles: the deterministic clustered point field of
    `_hotspot_points` restated in SQL, rolled up to z=6 Morton cells."""
    having = f"HAVING count(*) >= {min_points}" if min_points > 1 else ""
    return f"""{_HOTSPOT_PTS_SQL},
            cells0 AS (
                SELECT greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT), 63)) AS cell_ix,
                       greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 64.0) AS BIGINT), 63)) AS cell_iy
                FROM pts
            ),
            core AS (
                SELECT cell_ix, cell_iy,
                       ({_spread_sql('cell_ix')} | ({_spread_sql('cell_iy')} << 1)) AS cell_id,
                       count(*) AS n_points
                FROM cells0 GROUP BY 1, 2 {having}
            )"""


def _spacetime_cube_sql() -> str:
    """CTE text (pts/cube0/g/bins/cells/cube) for the space-time oracles:
    daily-binned z=6 cell counts over the clustered point field, then the
    zero-filled dense cube (every ever-occupied cell x every bin)."""
    return f"""{_HOTSPOT_PTS_SQL},
            cube0 AS (
                SELECT cell_ix, cell_iy,
                       ({_spread_sql('cell_ix')} | ({_spread_sql('cell_iy')} << 1)) AS cell_id,
                       t_bin, count(*) AS n
                FROM (
                    SELECT greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT), 63)) AS cell_ix,
                           greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 64.0) AS BIGINT), 63)) AS cell_iy,
                           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS t_bin
                    FROM pts WHERE ts IS NOT NULL
                ) GROUP BY 1, 2, 3, 4
            ),
            bspan AS (SELECT min(t_bin) AS b0, max(t_bin) AS b1 FROM cube0),
            bins(t_bin) AS (
                SELECT b0 FROM bspan
                UNION ALL
                SELECT t_bin + 1 FROM bins, bspan WHERE t_bin < b1
            ),
            cellsd AS (SELECT DISTINCT cell_ix, cell_iy, cell_id FROM cube0),
            cube AS (
                SELECT c.cell_ix, c.cell_iy, c.cell_id, b.t_bin,
                       coalesce(cube0.n, 0) AS n
                FROM cellsd c CROSS JOIN bins b
                LEFT JOIN cube0 ON cube0.cell_id = c.cell_id AND cube0.t_bin = b.t_bin
            )"""


def _mk_sql(src: str, x: str, rounded: bool = True) -> str:
    """Mann-Kendall CTE tail over ``src(cell_id, t_bin, {x})`` — mirrors
    operators/spacetime.mann_kendall_trend exactly (integer S and tie
    sums; NULL scores pair to 0 and tie-group together)."""
    mk = f"""CASE WHEN p.s_stat > 0 THEN CAST(p.s_stat - 1 AS DOUBLE) / sqrt(CAST(t.t_bins*(t.t_bins-1)*(2*t.t_bins+5) - t.tie_sum AS DOUBLE) / 18.0)
                  WHEN p.s_stat < 0 THEN CAST(p.s_stat + 1 AS DOUBLE) / sqrt(CAST(t.t_bins*(t.t_bins-1)*(2*t.t_bins+5) - t.tie_sum AS DOUBLE) / 18.0)
                  ELSE 0.0 END"""
    return f"""
            pairs AS (
                SELECT a.cell_id,
                       sum(CASE WHEN b.{x} > a.{x} THEN 1
                                WHEN b.{x} < a.{x} THEN -1 ELSE 0 END) AS s_stat
                FROM {src} a JOIN {src} b
                  ON a.cell_id = b.cell_id AND a.t_bin < b.t_bin
                GROUP BY 1
            ),
            ties AS (
                SELECT cell_id, sum(tg) AS t_bins,
                       sum(tg * (tg - 1) * (2 * tg + 5)) AS tie_sum
                FROM (SELECT cell_id, {x}, count(*) AS tg FROM {src} GROUP BY 1, 2)
                GROUP BY 1
            ),
            mk AS (
                SELECT p.cell_id, t.t_bins, p.s_stat,
                       CAST(t.t_bins*(t.t_bins-1)*(2*t.t_bins+5) - t.tie_sum AS DOUBLE) / 18.0 AS var_s,
                       CASE WHEN t.t_bins*(t.t_bins-1)*(2*t.t_bins+5) - t.tie_sum > 0
                            THEN {f'round({mk}, 6)' if rounded else mk} END AS mk_z
                FROM pairs p JOIN ties t ON p.cell_id = t.cell_id
            )"""


def _geodesic_buffer_oracle_sql(geo_cte: str) -> str:
    # Identical constant folding to _q_geodesic_point_buffer: d computed the
    # same way from the same EARTH_RADIUS_KM, cos/sin folded in Python so
    # both engines consume bit-identical literals; per-row trig differences
    # (JVM vs libm, sub-ulp) vanish under the 1e-6-deg rounding.
    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    d = 250_000.0 / (EARTH_RADIUS_KM * 1000.0)
    cos_d, sin_d, two_pi = _math.cos(d), _math.sin(d), 2.0 * _math.pi
    return f"""
        {geo_cte},
        v AS (
            SELECT doc_id, lon, lat, r.k AS k,
                   CAST(r.k AS DOUBLE) * {two_pi!r} / 12.0 AS th
            FROM pts, range(0, 12) r(k)
        ),
        s AS (
            SELECT doc_id, k, th,
                   radians(lat) AS p1, radians(lon) AS l1,
                   sin(radians(lat)) * {cos_d!r}
                     + cos(radians(lat)) * {sin_d!r} * cos(th) AS slat2
            FROM v
        ),
        o AS (
            SELECT doc_id, k,
                   degrees(asin(slat2)) AS vlat,
                   degrees(l1 + atan2(sin(th) * {sin_d!r} * cos(p1),
                                      {cos_d!r} - sin(p1) * slat2)) AS vlon0
            FROM s
        )
        SELECT doc_id, k,
               round(vlon0 - 360.0 * floor((vlon0 + 180.0) / 360.0), 6) AS vlon,
               round(vlat, 6) AS vlat
        FROM o
    """


def _travel_oracle_sql() -> str:
    # Identical haversine shape to functions/geodesy.gc_distance_m (the
    # 2R constant folded in Python; the >1 clamp as CASE — least() would
    # swallow the first-ping NULL on both engines) and the identical
    # DECIMAL(38,3) mm-rounded exact accumulation of trajectories.py.
    from pygridmap_spark.functions.geodesy import EARTH_RADIUS_M

    two_r = 2.0 * EARTH_RADIUS_M
    hav = """
        pow(sin((radians(lat) - radians(plat)) / 2.0), 2)
        + cos(radians(plat)) * cos(radians(lat))
          * pow(sin((radians(lon) - radians(plon)) / 2.0), 2)
    """
    return f"""
        WITH pts AS (
            SELECT event_id, user_id, ts,
                   -60.0 + (event_id * 2654435761 % 1300000) / 10000.0 AS lat,
                   -180.0 + (event_id * 2246822519 % 3600000) / 10000.0 AS lon
            FROM events
        ),
        lagd AS (
            SELECT user_id, lon, lat,
                   lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hops AS (
            SELECT user_id,
                   {two_r!r} * asin(
                       CASE WHEN sqrt({hav}) > 1.0 THEN 1.0
                            ELSE sqrt({hav}) END) AS hop_m
            FROM lagd
        )
        SELECT user_id,
               count(*) AS n_pings,
               count(hop_m) AS n_hops,
               round(CAST(coalesce(sum(CAST(round(hop_m, 3) AS DECIMAL(38,3))),
                                   0) AS DOUBLE), 3) AS travel_m,
               round(max(round(hop_m, 3)), 3) AS max_hop_m
        FROM hops
        GROUP BY user_id
    """


def _idw_oracle_sql() -> str:
    # Mirrors _q_idw_interpolation: hashed sample field, z=7 Morton cells,
    # 3x3 disk gather with antimeridian wrap, gc_distance_m haversine
    # floored at 1 mm, inverse-square weights, round-6 estimate.
    from pygridmap_spark.functions.geodesy import EARTH_RADIUS_M

    two_r = 2.0 * EARTH_RADIUS_M
    hav = """
        pow(sin((radians(slat) - radians(clat)) / 2.0), 2)
        + cos(radians(clat)) * cos(radians(slat))
          * pow(sin((radians(slon) - radians(clon)) / 2.0), 2)
    """
    return f"""
        WITH pts AS (
            SELECT -20.0 + (event_id * 48271 % 400000) / 10000.0 AS lon,
                   -15.0 + (event_id * 69621 % 300000) / 10000.0 AS lat
            FROM events
        ),
        s AS (
            SELECT greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 128.0) AS BIGINT), 127)) AS nix,
                   greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 128.0) AS BIGINT), 127)) AS niy,
                   lon AS slon, lat AS slat,
                   lon * 0.5 + lat * lat * 0.1 AS v
            FROM pts
        ),
        tg AS (SELECT DISTINCT nix AS cell_ix, niy AS cell_iy FROM s),
        probes AS (
            SELECT cell_ix, cell_iy,
                   (cell_ix + dx.d + 128) % 128 AS nix,
                   cell_iy + dy.d AS niy
            FROM tg, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
            WHERE cell_iy + dy.d BETWEEN 0 AND 127
        ),
        g AS (
            SELECT p.cell_ix, p.cell_iy, s.slon, s.slat, s.v,
                   -180.0 + (p.cell_ix + 0.5) * 360.0 / 128.0 AS clon,
                   -90.0 + (p.cell_iy + 0.5) * 180.0 / 128.0 AS clat
            FROM probes p JOIN s ON s.nix = p.nix AND s.niy = p.niy
        ),
        wts AS (
            SELECT cell_ix, cell_iy, v,
                   1.0 / pow(greatest(
                       {two_r!r} * asin(CASE WHEN sqrt({hav}) > 1.0 THEN 1.0
                                             ELSE sqrt({hav}) END),
                       0.001), 2.0) AS w
            FROM g
        )
        SELECT cell_ix, cell_iy, count(*) AS n_samples,
               round(sum(w * v) / sum(w), 6) AS est
        FROM wts GROUP BY 1, 2
    """


def _simplify_oracle_sql() -> str:
    # Mirrors _q_simplify_trajectory end-to-end: the planted piecewise-
    # linear field (identical integer expressions, ONE double division),
    # then the ENTIRE Douglas-Peucker recursion as a recursive CTE —
    # each iteration splits every active segment at its max-deviation
    # point (ties -> earliest via ORDER BY d2 DESC, k) when the squared
    # point-to-segment distance exceeds tol^2. The d2 expression tree is
    # operation-for-operation the numpy kernel's
    # (operators/trajectories._dp_keep_mask), so near-threshold splits
    # cannot diverge by a ULP. Kept points = all segment endpoints.
    tol2 = repr(0.01 * 0.01)
    d2 = """
        CASE WHEN (b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y) = 0
             THEN (p.x-a.x)*(p.x-a.x) + (p.y-a.y)*(p.y-a.y)
             ELSE (p.x - (a.x + greatest(0.0, least(1.0,
                      ((p.x-a.x)*(b.x-a.x) + (p.y-a.y)*(b.y-a.y))
                      / ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y))))
                      * (b.x-a.x)))
                * (p.x - (a.x + greatest(0.0, least(1.0,
                      ((p.x-a.x)*(b.x-a.x) + (p.y-a.y)*(b.y-a.y))
                      / ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y))))
                      * (b.x-a.x)))
                + (p.y - (a.y + greatest(0.0, least(1.0,
                      ((p.x-a.x)*(b.x-a.x) + (p.y-a.y)*(b.y-a.y))
                      / ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y))))
                      * (b.y-a.y)))
                * (p.y - (a.y + greatest(0.0, least(1.0,
                      ((p.x-a.x)*(b.x-a.x) + (p.y-a.y)*(b.y-a.y))
                      / ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y))))
                      * (b.y-a.y)))
        END
    """
    return f"""
        WITH RECURSIVE base AS (
            SELECT user_id, event_id,
                   CAST(row_number() OVER (
                        PARTITION BY user_id ORDER BY event_id) AS BIGINT)
                       AS seq
            FROM events
        ),
        pts AS (
            SELECT user_id, event_id, seq,
                   -170.0 + (
                       (user_id * 2654435761 + ((seq-1)//20) * 12345)
                           % 3300000
                       + ((seq-1) % 20)
                         * (((user_id * 43 + ((seq-1)//20) * 29) % 2001)
                            - 1000)
                       + (event_id * 12345) % 41 - 20
                   ) / 10000.0 AS x,
                   -60.0 + (
                       (user_id * 40503 + ((seq-1)//20) * 9973) % 1200000
                       + ((seq-1) % 20)
                         * (((user_id * 31 + ((seq-1)//20) * 17) % 2001)
                            - 1000)
                       + (event_id * 1103515245) % 41 - 20
                   ) / 10000.0 AS y
            FROM base
        ),
        bounds AS (
            SELECT user_id, min(seq) AS i0, max(seq) AS j0
            FROM pts GROUP BY 1
        ),
        segs(user_id, i, j) AS (
            SELECT user_id, i0, j0 FROM bounds
            UNION ALL
            SELECT g.user_id,
                   CASE WHEN s.side = 0 THEN g.i ELSE g.k END,
                   CASE WHEN s.side = 0 THEN g.k ELSE g.j END
            FROM (
                SELECT user_id, i, j, k FROM (
                    SELECT c.user_id, c.i, c.j, c.k, c.d2,
                           row_number() OVER (
                               PARTITION BY c.user_id, c.i, c.j
                               ORDER BY c.d2 DESC, c.k) AS rn
                    FROM (
                        SELECT segs.user_id, segs.i, segs.j, p.seq AS k,
                               {d2} AS d2
                        FROM segs
                        JOIN pts p ON p.user_id = segs.user_id
                                  AND p.seq > segs.i AND p.seq < segs.j
                        JOIN pts a ON a.user_id = segs.user_id
                                  AND a.seq = segs.i
                        JOIN pts b ON b.user_id = segs.user_id
                                  AND b.seq = segs.j
                    ) c
                ) WHERE rn = 1 AND d2 > {tol2}
            ) g CROSS JOIN (SELECT 0 AS side UNION ALL SELECT 1 AS side) s
        ),
        kept AS (
            SELECT DISTINCT user_id, seq FROM (
                SELECT user_id, i AS seq FROM segs
                UNION ALL
                SELECT user_id, j AS seq FROM segs
            )
        )
        SELECT p.user_id, p.event_id, p.seq,
               round(p.x, 6) AS lon, round(p.y, 6) AS lat
        FROM kept k2
        JOIN pts p ON p.user_id = k2.user_id AND p.seq = k2.seq
    """


def _stays_cte_sql() -> str:
    # Shared pts..agg CTE chain for the stay_points and od_flows oracles:
    # the planted anchor-block field, the gc_distance_m haversine (same
    # shape as _travel_oracle_sql), the break-flag running sum, and the
    # exact micro-degree decimal centroid sums.
    from pygridmap_spark.functions.geodesy import EARTH_RADIUS_M

    two_r = 2.0 * EARTH_RADIUS_M
    hav = """
        pow(sin((radians(lat) - radians(plat)) / 2.0), 2)
        + cos(radians(plat)) * cos(radians(lat))
          * pow(sin((radians(lon) - radians(plon)) / 2.0), 2)
    """
    return f"""
        pts AS (
            SELECT user_id, event_id, ts,
                   -170.0 + ((user_id * 2654435761
                              + CAST(floor(epoch(ts) / 432000) AS BIGINT) * 131)
                             % 3400000) / 10000.0
                          + ((event_id * 1103515245) % 200) / 1000000.0 AS lon,
                   -60.0 + ((user_id * 40503
                             + CAST(floor(epoch(ts) / 432000) AS BIGINT) * 97)
                            % 1200000) / 10000.0
                         + ((event_id * 12345) % 200) / 1000000.0 AS lat
            FROM events
        ),
        lagd AS (
            SELECT user_id, event_id, ts, lon, lat,
                   lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hops AS (
            SELECT user_id, event_id, ts, lon, lat, gap_s,
                   {two_r!r} * asin(
                       CASE WHEN sqrt({hav}) > 1.0 THEN 1.0
                            ELSE sqrt({hav}) END) AS hop_m
            FROM lagd
        ),
        segs AS (
            SELECT user_id, ts, lon, lat,
                   sum(CASE WHEN hop_m IS NULL OR hop_m > 200.0
                                 OR gap_s > 172800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS seg_id
            FROM hops
        ),
        agg AS (
            SELECT user_id, seg_id, count(*) AS n_pings,
                   min(ts) AS t_start, max(ts) AS t_end,
                   sum(CAST(round(lon, 6) AS DECIMAL(21,6))) AS slon,
                   sum(CAST(round(lat, 6) AS DECIMAL(21,6))) AS slat
            FROM segs GROUP BY 1, 2
        )
    """


def _stay_points_oracle_sql() -> str:
    # Mirrors _q_stay_points end-to-end over the shared stays CTE chain.
    return f"""
        WITH {_stays_cte_sql()}
        SELECT user_id, seg_id, n_pings,
               CAST(floor(epoch(t_start)) AS BIGINT) AS t_start_epoch,
               CAST(floor(epoch(t_end)) AS BIGINT) AS t_end_epoch,
               CAST(floor(epoch(t_end)) AS BIGINT)
                 - CAST(floor(epoch(t_start)) AS BIGINT) AS dwell_s,
               -- floor(x*1e6 + 0.5)/1e6, NOT round(): the quotient double
               -- is identical on both engines, but round() implementations
               -- disagree on representation-boundary ties (two rows at
               -- sf0.01 flipped by 1e-6); the floor form is pure IEEE ops,
               -- bit-identical everywhere
               floor(CAST(slon AS DOUBLE) / n_pings * 1000000.0 + 0.5)
                   / 1000000.0 AS ctr_lon,
               floor(CAST(slat AS DOUBLE) / n_pings * 1000000.0 + 0.5)
                   / 1000000.0 AS ctr_lat
        FROM agg
        WHERE CAST(floor(epoch(t_end)) AS BIGINT)
                 - CAST(floor(epoch(t_start)) AS BIGINT) >= 43200
    """


def _od_flows_oracle_sql() -> str:
    # Mirrors _q_od_flows: the shared stays chain, the RAW centroid
    # quotient (CAST(decimal AS DOUBLE)/n — one IEEE division of identical
    # operands on both engines, bit-identical; proven by the stay_points
    # hash), the z=6 Morton cell twin, lead over (t_start, seg_id), and
    # the (o, d) rollup with count(DISTINCT user_id).
    return f"""
        WITH {_stays_cte_sql()},
        stays AS (
            SELECT user_id, seg_id, t_start,
                   CAST(slon AS DOUBLE) / n_pings AS ctr_lon,
                   CAST(slat AS DOUBLE) / n_pings AS ctr_lat
            FROM agg
            WHERE CAST(floor(epoch(t_end)) AS BIGINT)
                     - CAST(floor(epoch(t_start)) AS BIGINT) >= 43200
        ),
        cells AS (
            SELECT user_id, seg_id, t_start,
                   greatest(0, least(CAST(floor((ctr_lon + 180.0) / 360.0
                       * 64.0) AS BIGINT), 63)) AS cell_ix,
                   greatest(0, least(CAST(floor((ctr_lat + 90.0) / 180.0
                       * 64.0) AS BIGINT), 63)) AS cell_iy
            FROM stays
        ),
        ids AS (
            SELECT user_id, seg_id, t_start, cell_ix, cell_iy,
                   ({_spread_sql('cell_ix')}
                    | ({_spread_sql('cell_iy')} << 1)) AS cell_id
            FROM cells
        ),
        paired AS (
            SELECT user_id,
                   cell_ix AS o_ix, cell_iy AS o_iy, cell_id AS o_cell,
                   lead(cell_ix) OVER w AS d_ix,
                   lead(cell_iy) OVER w AS d_iy,
                   lead(cell_id) OVER w AS d_cell
            FROM ids
            WINDOW w AS (PARTITION BY user_id ORDER BY t_start, seg_id)
        )
        SELECT o_ix, o_iy, o_cell, d_ix, d_iy, d_cell,
               count(*) AS n_trips,
               count(DISTINCT user_id) AS n_entities
        FROM paired
        WHERE d_cell IS NOT NULL
        GROUP BY 1, 2, 3, 4, 5, 6
    """


def _geohash_chars_sql(code: str, p: int) -> str:
    # base-32 geohash digits of a 5*p-bit code, MSB group first — mirrors
    # cellindex.geohash's conv+translate with explicit per-char indexing
    alph = "0123456789bcdefghjkmnpqrstuvwxyz"
    return " || ".join(
        f"substr('{alph}', 1 + CAST((({code}) >> {5 * (p - 1 - i)}) & 31 AS INT), 1)"
        for i in range(p)
    )


def _q_cell_index_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/quadtree cell encoding (the engine's H3/S2-analog) — oracle
    reproduces the bit-spreading in SQL."""
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    out = CI.with_cell_index(pts, 8, lon="lon", lat="lat")
    return out.select("doc_id", "cell_ix", "cell_iy", "cell_id")


def _q_cell_index_morton_z20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit-spreading variant (round-3: MAX_Z raised 16 -> 31): z=20
    exceeds the old 16-bit/axis bound, so a hash-match here proves the
    wide spreading end-to-end against DuckDB's own 64-bit bit arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    out = CI.with_cell_index(pts, 20, lon="lon", lat="lat")
    return out.select("doc_id", "cell_ix", "cell_iy", "cell_id")


def _q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash base-32 cell key (Niemeyer 2008, public domain) at precision
    7 (odd: asymmetric 18/17 lon/lat bit split) AND 6 (even split) — the
    oracle rebuilds the bit interleave + alphabet in DuckDB SQL, so a hash
    match proves both interleave parities and the alphabet end-to-end."""
    # single-split scan would run the whole base-32 interleave chain on
    # one core (lake-scale scans have thousands of splits)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    out = pts.select(
        "doc_id",
        CI.geohash(F.col("lon"), F.col("lat"), 7).alias("gh7"),
        CI.geohash(F.col("lon"), F.col("lat"), 6).alias("gh6"),
    )
    # decode gated too: cell-center coords are pure integer compact + the
    # same-order double arithmetic on both engines — bit-identical, no
    # rounding needed (no trig anywhere)
    dlon, dlat = CI.geohash_decode(F.col("gh7"), 7)
    return out.withColumns({"dlon7": dlon, "dlat7": dlat})


def _q_geohash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash 8-neighbor probe set (functions/cellindex.geohash_neighbors):
    the expansion a geohash-keyed radius join runs per key. Pure integer
    cell-space arithmetic (compact -> step -> re-interleave -> base-32) on
    both engines — exact string equality, antimeridian wrap and pole
    clamp included (the fixed slot order pins k)."""
    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    gh = pts.select("doc_id", CI.geohash(F.col("lon"), F.col("lat"), 7).alias("gh7"))
    out = gh.select(
        "doc_id",
        "gh7",
        F.posexplode(CI.geohash_neighbors(F.col("gh7"), 7)).alias("k", "ngh"),
    )
    return out.filter(F.col("ngh").isNotNull()).select(
        "doc_id", F.col("k").cast("long").alias("k"), "ngh"
    )


def _q_geodesic_point_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic point buffer, vertex-rows form
    (operators/pip_sphere.geodesic_buffer_vertices): the 12-gon
    great-circle circle of radius 250 km around each document point via
    the spherical direct-geodesic closed form — pure Catalyst trig, zero
    exchanges. Oracle restates the identical formula (same constant
    folding, same association order) in DuckDB SQL; coordinates rounded
    to 1e-6 deg (~0.1 m) as in reproject_laea."""
    from pygridmap_spark.operators import pip_sphere as _PIP

    docs = _t(spark, sf_dir, "documents")
    lat, lon = GEO.lat_lon_from_id(F.col("doc_id"))
    pts = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    out = _PIP.geodesic_buffer_vertices(pts, 250_000.0, 12)
    return out.select(
        "doc_id",
        F.col("k").cast("long").alias("k"),
        F.round("vlon", 6).alias("vlon"),
        F.round("vlat", 6).alias("vlat"),
    )


def _q_user_travel_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory rollup (operators/trajectories.travel_stats):
    lag-window great-circle hop distances (functions/geodesy.gc_distance_m,
    pure Catalyst haversine) summed per user as EXACT mm-rounded
    DECIMAL(38,3) (the repo-wide cross-engine sum invariant). One window
    shuffle on user_id; the agg rides its co-partitioning. Oracle: the
    identical lag + haversine + decimal sum in DuckDB SQL."""
    from pygridmap_spark.operators import trajectories as _TJ

    ev = _t(spark, sf_dir, "events")
    lat, lon = GEO.lat_lon_from_id(F.col("event_id"))
    pts = ev.select("event_id", "user_id", "ts", lat.alias("lat"), lon.alias("lon"))
    out = _TJ.travel_stats(pts, tiebreak="event_id")
    return out.select(
        "user_id",
        "n_pings",
        "n_hops",
        F.round("travel_m", 3).alias("travel_m"),
        F.round("max_hop_m", 3).alias("max_hop_m"),
    )


def _q_contact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal co-location join (operators/trajectories.
    contact_pairs): unordered pairs of distinct users whose pings came
    within 50 km AND 1 day of each other, over a hashed ping cloud in a
    [0,36)x[40,53) deg patch. Spark blocks on (S2 cover cell x day
    bucket) — one candidate equi-join, exact haversine + integer-us
    refine; the oracle proves exactness from the OPPOSITE plan shape (a
    pid-ordered time-range inequality join, no spatial blocking at all).
    min_dist_m rounds via the floor trick (the repo-wide cross-engine
    rounding invariant)."""
    from pygridmap_spark.operators import trajectories as _TJ

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    # lat is QUADRATIC in the id on purpose: two linear congruences make
    # the point set a lattice whose shortest vector exceeds the radius
    # (zero contacts at every sf — a vacuous oracle); e*e mod breaks the
    # lattice and the cloud behaves Poisson (~5.7k contacts at sf0.01)
    lon = F.lit(0.0) + ((e * F.lit(48271)) % F.lit(360000)).cast("double") / F.lit(10000.0)
    lat = F.lit(40.0) + ((e * e) % F.lit(130000)).cast("double") / F.lit(10000.0)
    pts = ev.select(
        e.alias("ping_id"), "user_id", "ts", lon.alias("lon"), lat.alias("lat")
    )
    out = _TJ.contact_pairs(pts, 50_000.0, 86_400.0)
    return out.select(
        "user_a",
        "user_b",
        "n_contacts",
        "first_ts",
        (F.floor(F.col("min_dist_m") * F.lit(1000.0) + F.lit(0.5)) / F.lit(1000.0)).alias(
            "min_dist_m"
        ),
    )


def _contact_pairs_oracle_sql() -> str:
    # Deliberately the OTHER plan: a pid-ordered inequality join on the
    # exact-microsecond time window (DuckDB IEJoin), zero spatial
    # blocking — if Spark's (cell, bucket) cover missed any pair, the
    # hash would catch it. Haversine shape identical to
    # functions/geodesy.gc_distance_m (the cross-engine parity form).
    from pygridmap_spark.functions.geodesy import EARTH_RADIUS_M

    two_r = 2.0 * EARTH_RADIUS_M
    hav = """
        pow(sin((radians(b.lat) - radians(a.lat)) / 2.0), 2)
        + cos(radians(a.lat)) * cos(radians(b.lat))
          * pow(sin((radians(b.lon) - radians(a.lon)) / 2.0), 2)
    """
    return f"""
        WITH p AS (
            SELECT event_id AS pid, user_id, ts, epoch_us(ts) AS us,
                   0.0 + (event_id * 48271 % 360000) / 10000.0 AS lon,
                   40.0 + ((event_id * event_id) % 130000) / 10000.0 AS lat
            FROM events
        ),
        cand AS (
            SELECT a.user_id AS ua0, b.user_id AS ub0,
                   a.us AS usa, b.us AS usb, a.ts AS tsa, b.ts AS tsb,
                   {two_r!r} * asin(
                       CASE WHEN sqrt({hav}) > 1.0 THEN 1.0
                            ELSE sqrt({hav}) END) AS d
            FROM p a JOIN p b
              ON a.pid < b.pid
             AND b.us BETWEEN a.us - 86400000000 AND a.us + 86400000000
            WHERE a.user_id != b.user_id
        ),
        hits AS (SELECT * FROM cand WHERE d <= 50000.0)
        SELECT CASE WHEN ua0 < ub0 THEN ua0 ELSE ub0 END AS user_a,
               CASE WHEN ua0 < ub0 THEN ub0 ELSE ua0 END AS user_b,
               count(*) AS n_contacts,
               min(CASE WHEN usa <= usb THEN tsa ELSE tsb END) AS first_ts,
               floor(min(d) * 1000.0 + 0.5) / 1000.0 AS min_dist_m
        FROM hits
        GROUP BY 1, 2
    """


def _q_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW grid interpolation (operators/interpolate) of a smooth
    deterministic field sampled at hashed points in a [-20,20)x[-15,15)
    region, estimated at every occupied z=7 cell from its 3x3 disk.
    Oracle restates the gather join, haversine, floor, and
    inverse-square weights; round-6 on the estimate absorbs summation
    order."""
    from pygridmap_spark.operators import interpolate as _IDW

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    lon = F.lit(-20.0) + ((e * F.lit(48271)) % F.lit(400000)).cast("double") / F.lit(10000.0)
    lat = F.lit(-15.0) + ((e * F.lit(69621)) % F.lit(300000)).cast("double") / F.lit(10000.0)
    pts = ev.select(lon.alias("lon"), lat.alias("lat")).select(
        "lon",
        "lat",
        (F.col("lon") * F.lit(0.5) + F.col("lat") * F.col("lat") * F.lit(0.1)).alias("v"),
    )
    out = _IDW.idw_interpolate(pts, z=7, ring=1, power=2.0)
    return out.select(
        "cell_ix", "cell_iy", "n_samples", F.round(F.col("est"), 6).alias("est")
    )


def _q_s2_compact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-set compaction (functions/s2.compact_cells — the H3
    compactCells / S2 CellUnion.Normalize analog) over a level-8 set on
    face 2: a dense aligned block (event_id % 1024 — fuses up 5 levels
    wherever coverage is complete) plus a sparse tail (mostly survives at
    level 8, with incidental sibling fusions). The oracle restates the
    non-iterative coarsest-complete-ancestor formulation in SQL."""
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    base = F.lit(2 << 16)
    block = ev.select((base + (e % F.lit(1024))).alias("compact"))
    sparse = ev.filter(e % 5 == F.lit(0)).select(
        (base + F.lit(1024) + (e * F.lit(7919)) % F.lit(60000)).alias("compact")
    )
    out = S2C.compact_cells(block.unionByName(sparse), level=8)
    return out.select(F.col("level").cast("long").alias("level"), "compact")


def _q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.asof_join): every 'page event'
    (event_id % 7 != 0) enriched with the latest 'snapshot' row
    (event_id % 7 == 0) at-or-before it for the same user, within a
    7-day tolerance. The oracle is DuckDB's NATIVE ASOF JOIN — a fully
    independent implementation of the same semantics."""
    from pygridmap_spark.operators import temporal as _TMP

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_id") % 7 != 0).select("user_id", "event_id", "ts")
    right = ev.filter(F.col("event_id") % 7 == 0).select(
        "user_id", "ts", F.col("event_id").alias("ref_id")
    )
    out = _TMP.asof_join(left, right, on="ts", by="user_id", tolerance_s=604800)
    age = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("ts_r"))
    return out.select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.col("ts")).alias("ts_epoch"),
        "ref_id",
        F.unix_timestamp(F.col("ts_r")).alias("ref_ts_epoch"),
        age.alias("age_s"),
    )


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/temporal.interval_join): two
    deterministic interval tables derived from `events` (multiplicative-
    hash starts over a 1M domain, data-dependent lengths, a 3-way equi
    key) joined on closed-interval overlap. The operator runs the BINNED
    range join (explode-to-bins + first-overlap-bin dedup); the oracle is
    DuckDB's planner running the raw inequality predicate — fully
    independent physical strategies, same relation."""
    from pygridmap_spark.operators import temporal as _TMP

    ev = _t(spark, sf_dir, "events")
    e, u = F.col("event_id"), F.col("user_id")
    left = ev.filter(e % 17 == 0).select(
        e.alias("lid"),
        (u % 3).alias("k"),
        ((e * F.lit(2654435761)) % F.lit(1000000)).alias("l_start"),
        ((e * F.lit(2654435761)) % F.lit(1000000) + 1 + e % 900).alias("l_end"),
    )
    right = ev.filter(e % 19 == 1).select(
        e.alias("rid"),
        (u % 3).alias("k"),
        ((e * F.lit(2246822519)) % F.lit(1000000)).alias("r_start"),
        ((e * F.lit(2246822519)) % F.lit(1000000) + 1 + e % 700).alias("r_end"),
    )
    out = _TMP.interval_join(
        left, right, bin_width=512,
        l_start="l_start", l_end="l_end", r_start="r_start", r_end="r_end",
        by="k",
    )
    return out.select(
        "lid", "rid", "k", "l_start", "l_end", "r_start", "r_end",
        (F.least("l_end", "r_end") - F.greatest("l_start", "r_start")).alias(
            "overlap_len"
        ),
    )


def _q_simplify_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker trajectory simplification
    (operators/trajectories.simplify_trajectory) over a planted
    piecewise-linear-with-noise trajectory field: per user, 20-ping
    phases walk a hash-chosen linear drift with ±0.002° hash noise, so
    at tolerance 0.01° the interior noise is removable and the phase
    turns are not. The oracle restates the ENTIRE recursive DP (identical
    squared point-to-segment expression tree, earliest-point tie split)
    as a DuckDB recursive CTE — independent control flow (set-recursive
    splitting vs the operator's iterative numpy stack)."""
    from pygridmap_spark.operators import trajectories as _TJ

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    u, e = F.col("user_id"), F.col("event_id")
    base = ev.select(
        "user_id", "event_id", F.row_number().over(w).cast("long").alias("seq")
    )
    s = F.col("seq")
    ph = F.floor((s - 1) / F.lit(20)).cast("long")
    rem = (s - 1) % 20
    lat = (
        F.lit(-60.0)
        + (
            (u * F.lit(40503) + ph * F.lit(9973)) % F.lit(1200000)
            + rem * (((u * F.lit(31) + ph * F.lit(17)) % F.lit(2001)) - F.lit(1000))
            + (e * F.lit(1103515245)) % F.lit(41)
            - F.lit(20)
        )
        / F.lit(10000.0)
    )
    lon = (
        F.lit(-170.0)
        + (
            (u * F.lit(2654435761) + ph * F.lit(12345)) % F.lit(3300000)
            + rem * (((u * F.lit(43) + ph * F.lit(29)) % F.lit(2001)) - F.lit(1000))
            + (e * F.lit(12345)) % F.lit(41)
            - F.lit(20)
        )
        / F.lit(10000.0)
    )
    pts = base.select(
        "user_id", "event_id", "seq", lon.alias("lon"), lat.alias("lat")
    )
    out = _TJ.simplify_trajectory(pts, 0.01, entity_col="user_id", ts_col="seq")
    return out.select(
        "user_id",
        "event_id",
        "seq",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
    )


def _q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (operators/trajectories.stay_points) over a
    planted anchor-block trajectory field: each user dwells near a
    deterministic anchor for a 5-day epoch block (metre-scale jitter per
    event), teleporting between blocks — so stays are real and breaks are
    real. The oracle restates the identical haversine, segmentation
    cumsum, and exact decimal centroid in DuckDB window SQL."""
    from pygridmap_spark.operators import trajectories as _TJ

    ev = _t(spark, sf_dir, "events")
    a = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(432000)).cast("long")
    u, e = F.col("user_id"), F.col("event_id")
    lat = (
        F.lit(-60.0)
        + ((u * F.lit(40503) + a * F.lit(97)) % F.lit(1200000)).cast("double")
        / F.lit(10000.0)
        + ((e * F.lit(12345)) % F.lit(200)).cast("double") / F.lit(1000000.0)
    )
    lon = (
        F.lit(-170.0)
        + ((u * F.lit(2654435761) + a * F.lit(131)) % F.lit(3400000)).cast("double")
        / F.lit(10000.0)
        + ((e * F.lit(1103515245)) % F.lit(200)).cast("double") / F.lit(1000000.0)
    )
    pts = ev.select("user_id", "event_id", "ts", lon.alias("lon"), lat.alias("lat"))
    out = _TJ.stay_points(
        pts, radius_m=200.0, max_gap_s=172800, min_dwell_s=43200,
        tiebreak="event_id",
    )
    return out.select(
        "user_id",
        # double: the oracle's window cumsum comes back HUGEINT -> float64
        # through pandas; the driver's hash is dtype-sensitive (r5 lesson)
        F.col("seg_id").cast("double").alias("seg_id"),
        "n_pings",
        F.unix_timestamp(F.col("t_start")).alias("t_start_epoch"),
        F.unix_timestamp(F.col("t_end")).alias("t_end_epoch"),
        "dwell_s",
        # floor-based half-up: bit-identical to the oracle's expression
        # (round() disagrees across engines on representation-boundary ties)
        (F.floor(F.col("ctr_lon") * 1e6 + 0.5) / 1e6).alias("ctr_lon"),
        (F.floor(F.col("ctr_lat") * 1e6 + 0.5) / 1e6).alias("ctr_lat"),
    )


def _q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix (operators/trajectories.od_flows):
    the _q_stay_points planted anchor-block field -> stay_points -> z=6
    Morton cells -> consecutive-stay pairing -> (o, d) trip counts. Users
    teleport between 5-day anchors, so the flows are real. The oracle
    restates the whole chain (shared stays CTE, raw centroid quotient,
    Morton twin, lead window, distinct-entity rollup) in DuckDB SQL."""
    from pygridmap_spark.operators import trajectories as _TJ

    ev = _t(spark, sf_dir, "events")
    a = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(432000)).cast("long")
    u, e = F.col("user_id"), F.col("event_id")
    lat = (
        F.lit(-60.0)
        + ((u * F.lit(40503) + a * F.lit(97)) % F.lit(1200000)).cast("double")
        / F.lit(10000.0)
        + ((e * F.lit(12345)) % F.lit(200)).cast("double") / F.lit(1000000.0)
    )
    lon = (
        F.lit(-170.0)
        + ((u * F.lit(2654435761) + a * F.lit(131)) % F.lit(3400000)).cast("double")
        / F.lit(10000.0)
        + ((e * F.lit(1103515245)) % F.lit(200)).cast("double") / F.lit(1000000.0)
    )
    pts = ev.select("user_id", "event_id", "ts", lon.alias("lon"), lat.alias("lat"))
    stays = _TJ.stay_points(
        pts, radius_m=200.0, max_gap_s=172800, min_dwell_s=43200,
        tiebreak="event_id",
    )
    return _TJ.od_flows(stays, z=6, tiebreak="seg_id")


def _q_raster_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 raster point sampling: events-derived points equi-joined onto the
    synthetic raster's computed (col, row) keys (y-flip pinned)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") % 640).cast("double") / 10.0).alias("x"),
        ((F.col("user_id") % 480).cast("double") / 10.0).alias("y"),
    )
    r = RA.synthetic_raster(spark, width=64, height=48, nodata_every=7)
    out = RA.sample_at_points(ev, r, height=48, resolution=1.0)
    return out.select("event_id", F.col("band1").alias("band1"))


def _q_raster_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector zonal statistics (per-polygon band stats, center-in
    semantics) over the synthetic raster; rect polygons make the oracle
    closed-form SQL."""
    import pandas as pd

    from pygridmap_spark.core import wkb as WKB

    r = RA.synthetic_raster(spark, width=64, height=48, nodata_every=7)
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [0, 1, 2],
                "geometry": [
                    WKB.encode_box(3.0, 5.0, 31.0, 27.0),
                    WKB.encode_box(20.0, 20.0, 64.0, 48.0),
                    WKB.encode_box(40.0, 0.0, 58.0, 17.0),
                ],
            }
        )
    )
    out = RA.zonal_stats(r, polys, bands=("band1",), height=48, resolution=1.0, z=9)
    return out.select(
        "poly_id",
        F.col("band1_count").cast("long").alias("n"),
        F.round(F.col("band1_sum"), 6).alias("band_sum"),
        F.round(F.col("band1_mean"), 6).alias("band_mean"),
        F.col("band1_min").alias("band_min"),
        F.col("band1_max").alias("band_max"),
    )


def _q_raster_to_s2_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile -> GEODESIC vector-cell aggregation (the north star's
    raster<->vector join on the sphere): an EPSG:3035 raster's cell
    centers go through the closed-form inverse LAEA (Catalyst trig,
    functions/reproject.py) to lon/lat, then the S2 cube-face encode
    (functions/s2.py, zero Python) keyed at level 8 — one partial-
    aggregated exchange on a near-equal-area spherical key. Oracle: the
    identical inverse-LAEA + face/st/ij arithmetic restated in DuckDB (no
    Hilbert needed for the (face, i, j) key)."""
    from pygridmap_spark.functions import s2 as _S2M

    r = RA.synthetic_raster(spark, width=64, height=48, nodata_every=7)
    x = F.lit(3_800_000.0) + (F.col("col") + F.lit(0.5)) * F.lit(20_000.0)
    y = F.lit(2_600_000.0) + (F.col("row") + F.lit(0.5)) * F.lit(20_000.0)
    lon, lat = RPJ.laea_inverse(x, y)
    enc = _S2M.with_s2_face_ij(r.withColumns({"lon": lon, "lat": lat}), 8)
    return (
        enc.groupBy("s2_face", "s2_i", "s2_j")
        .agg(
            F.count("*").alias("n_cells"),
            F.count("band1").alias("n_valid"),
            F.sum("band1").alias("band_sum"),
            F.min("band1").alias("band_min"),
            F.max("band1").alias("band_max"),
        )
        .select(
            F.col("s2_face").cast("long").alias("s2_face"),
            "s2_i",
            "s2_j",
            "n_cells",
            "n_valid",
            F.round(F.col("band_sum"), 6).alias("band_sum"),
            "band_min",
            "band_max",
        )
    )


def _q_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (rows-only): opaque binary -> feature vector via
    Arrow batches, deterministic fake decoder (real codec stubbed).

    The feature vector is exploded to scalar (media_id, feat_idx, feat_value)
    rows — the driver's rows-only canonicalization sorts/factorizes pandas
    columns and cannot handle array cells (round-1 TypeError)."""
    from pygridmap_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.to_binary(F.col("text"), F.lit("utf-8")).alias("html"),
    )
    feats = MM.decode_and_featurize(docs, feature_dim=8)
    return feats.select(
        "media_id",
        F.posexplode("features").alias("feat_idx", "feat_value"),
    ).select(
        "media_id",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        F.round(F.col("feat_value").cast("double"), 6).alias("feat_value"),
    )


def _multimodal_oracle_sql() -> str:
    """DuckDB twin of the deterministic fake decoder: sha256 hex -> 8
    little-endian uint32s -> (v % 1000)/1000. feature_dim=8 x 4 bytes = the
    full 32-byte digest, so no repeat logic. Nibble arithmetic because
    DuckDB lacks byte indexing on blobs."""

    def nib(p: int) -> str:
        return f"(strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1)"

    def byte(p: int) -> str:
        return f"(16 * {nib(p)} + {nib(p + 1)})"

    def feat(k: int) -> str:
        return "(" + " + ".join(f"{256**j} * {byte(1 + 8 * k + 2 * j)}" for j in range(4)) + ")"

    branches = "\nUNION ALL\n".join(
        f"SELECT media_id, CAST({k} AS BIGINT) AS feat_idx, "
        f"round(({feat(k)} % 1000) / 1000.0, 6) AS feat_value FROM h"
        for k in range(8)
    )
    return f"WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents)\n{branches}"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assignment": _q_tile_assignment,
        "tile_histogram": _q_tile_histogram,
        "cell_rollup": _q_cell_rollup,
        "top1_per_cell": _q_top1_per_cell,
        "weighted_sum": _q_weighted_sum,
        "revenue_by_nation": _q_revenue_by_nation,
        "pip_rect_join": _q_pip_rect_join,
        "knn_cellring": _q_knn,
        "grid_overlay_offset": _q_grid_overlay_offset,
        "overlay_union_full": _q_overlay_union_full,
        "overlay_pieces_wkb": _q_overlay_pieces_wkb,
        "overlay_poly_poly": _q_overlay_poly_poly,
        "area_interpolate_rects": _q_area_interpolate_rects,
        "grid_maker_trim": _q_grid_maker_trim,
        "grid_maker_qtree": _q_qtree_grid,
        "connected_components": _q_connected_components,
        "grid_hotspots": _q_grid_hotspots,
        "grid_gi_star": _q_grid_gi_star,
        "grid_morans_i": _q_grid_morans_i,
        "grid_local_morans": _q_grid_local_morans,
        "cell_trend_mk": _q_cell_trend_mk,
        "emerging_hotspots": _q_emerging_hotspots,
        "raster_resample": _q_raster_resample,
        "dedup_exact": _q_dedup_exact,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_cosine_topk_np": _q_ann_cosine_topk_np,
        "ann_cosine_topk_quantized": _q_ann_quantized,
        "token_counts": _q_token_counts,
        "lang_id_counts": _q_lang_id_counts,
        "quality_scores": _q_quality_scores,
        "fingerprints": _q_fingerprints,
        "embedding_near_dup": _q_embedding_near_dup,
        "events_windowed": _q_events_windowed,
        "events_sessionized": _q_events_sessionized,
        "contamination_stats": _q_contamination,
        "repetition_stats": _q_repetition_stats,
        "domain_rollup": _q_domain_rollup,
        "overlay_dissolve_wkb": _q_overlay_dissolve,
        "union_exact_wkb": _q_union_exact,
        "union_exact_distributed": _q_union_exact_distributed,
        "registered_domain_psl": _q_registered_domain_psl,
        "hll_distinct_rollup": _q_hll_distinct_rollup,
        "reproject_laea": _q_reproject_laea,
        "reproject_webmercator": _q_reproject_webmercator,
        "s2_cell_index": _q_s2_cell_index,
        "s2_rollup": _q_s2_rollup,
        "hex_rollup": _q_hex_rollup,
        "within_radius_s2": _q_within_radius_s2,
        "hex_polyfill": _q_hex_polyfill,
        "s2_polyfill": _q_s2_polyfill,
        "pip_s2_zones": _q_pip_s2_zones,
        "region_filter_quads": _q_region_filter_quads,
        "s2_cell_corners": _q_s2_cell_corners,
        "s2_cells_to_poly": _q_s2_cells_to_poly,
        "raster_to_s2_rollup": _q_raster_to_s2_rollup,
        "zones_intersect_s2": _q_zones_intersect_s2,
        "geodesic_zone_area": _q_geodesic_zone_area,
        "geodesic_zone_perimeter": _q_geodesic_zone_perimeter,
        "geodesic_zone_centroid": _q_geodesic_zone_centroid,
        "geodesic_zone_stats": _q_geodesic_zone_stats,
        "zone_border_depth": _q_zone_border_depth,
        "route_corridor": _q_route_corridor,
        "domain_geo_dispersion": _q_domain_geo_dispersion,
        "s2_cell_area_rollup": _q_s2_cell_area_rollup,
        "knn_s2_geodesic": _q_knn_s2_geodesic,
        "stratified_sample": _q_stratified_sample,
        "weighted_sample": _q_weighted_sample,
        "pack_sequences": _q_pack_sequences,
        "line_dedup": _q_line_dedup,
        "paragraph_dedup": _q_paragraph_dedup,
        "dup_span_removal": _q_dup_span_removal,
        "c4_clean": _q_c4_clean,
        "gopher_quality": _q_gopher_quality,
        "pii_redact": _q_pii_redact,
        "canonical_url_dedup": _q_canonical_url_dedup,
        "host_link_graph": _q_host_link_graph,
        "quality_topfrac": _q_quality_topfrac,
        "host_pagerank_int": _q_host_pagerank,
        "host_reciprocity": _q_host_reciprocity,
        "host_hits_int": _q_host_hits,
        "host_triangles": _q_host_triangles,
        "anchor_text_index": _q_anchor_text_index,
        "template_fingerprint": _q_template_fingerprint,
        "html_extract": _q_html_extract,
        "html_meta": _q_html_meta,
        "chunk_documents": _q_chunk_documents,
        "term_frequencies": _q_term_frequencies,
        "bm25_topk": _q_bm25_topk,
        "lm_xent_score": _q_lm_xent,
        "bpe_merges": _q_bpe_merges,
        "cm_heavy_hitters": _q_cm_heavy_hitters,
        "hdr_quantile_sketch": _q_hdr_quantile_sketch,
        "bloom_membership": _q_bloom_membership,
        "ripley_pair_counts": _q_ripley_pair_counts,
        "robots_allow": _q_robots_allow,
        "crawl_schedule": _q_crawl_schedule,
        "sitemap_entries": _q_sitemap_entries,
        "value_anomaly": _q_value_anomaly,
        "warc_parse": _q_warc_parse,
        "event_bars": _q_event_bars,
        "snapshot_diff_docs": _q_snapshot_diff,
        "kde_heatmap": _q_kde_heatmap,
        "user_twap": _q_user_twap,
        "event_funnel": _q_event_funnel,
        "convex_hull": _q_convex_hull,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "shingle_containment": _q_shingle_containment,
        "simhash_near_dup": _q_simhash_near_dup,
        "ann_cosine_topk_lsh": _q_ann_lsh,
        "ann_cosine_topk_ivf": _q_ann_ivf,
        "overlay_rule_max": _q_overlay_rule_max,
        "cell_index_morton": _q_cell_index_morton,
        "cell_index_morton_z20": _q_cell_index_morton_z20,
        "geohash_encode": _q_geohash_encode,
        "geohash_neighbors": _q_geohash_neighbors,
        "geodesic_point_buffer": _q_geodesic_point_buffer,
        "user_travel_distance": _q_user_travel_distance,
        "contact_pairs": _q_contact_pairs,
        "stay_points": _q_stay_points,
        "od_flows": _q_od_flows,
        "simplify_trajectory": _q_simplify_trajectory,
        "s2_compact_cells": _q_s2_compact_cells,
        "idw_interpolation": _q_idw_interpolation,
        "asof_enrich": _q_asof_enrich,
        "interval_overlap": _q_interval_overlap,
        "raster_point_sample": _q_raster_point_sample,
        "raster_zonal_stats": _q_raster_zonal_stats,
        "multimodal_featurize": _q_multimodal_featurize,
    }


# Shared DuckDB twin of the S2 level-12 encode (functions/s2.py): the same
# cube-face / quadratic-st / Hilbert formulas, with the per-level Hilbert
# unroll expressed as a 12-step recursive CTE over pure BIGINT bit ops.
_S2_ORACLE_CTE = """
            WITH RECURSIVE pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            xyz AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            fuv AS (
                SELECT doc_id, x, y, z,
                       CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                                THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                            WHEN abs(y) >= abs(z)
                                THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT doc_id, face,
                       CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y
                                 WHEN 2 THEN -x / z WHEN 3 THEN z / x
                                 WHEN 4 THEN z / y ELSE -y / z END AS u,
                       CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y
                                 WHEN 2 THEN -y / z WHEN 3 THEN y / x
                                 WHEN 4 THEN -x / y ELSE x / z END AS v
                FROM fuv
            ),
            st AS (
                SELECT doc_id, face,
                       CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
                            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS s,
                       CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
                            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END AS t
                FROM uv
            ),
            ij AS (
                SELECT doc_id, face,
                       LEAST(GREATEST(CAST(floor(s * 4096.0) AS BIGINT), 0), 4095) AS i,
                       LEAST(GREATEST(CAST(floor(t * 4096.0) AS BIGINT), 0), 4095) AS j
                FROM st
            ),
            hil AS (
                SELECT doc_id, face, i, j,
                       i AS hx, j AS hy, CAST(0 AS BIGINT) AS d, 11 AS k
                FROM ij
                UNION ALL
                SELECT doc_id, face, i, j,
                       CASE WHEN ((hy >> k) & 1) = 0
                            THEN CASE WHEN ((hx >> k) & 1) = 1
                                      THEN ((CAST(1 AS BIGINT) << k) - 1)
                                           - (hy & ((CAST(1 AS BIGINT) << k) - 1))
                                      ELSE hy & ((CAST(1 AS BIGINT) << k) - 1) END
                            ELSE hx & ((CAST(1 AS BIGINT) << k) - 1) END AS hx,
                       CASE WHEN ((hy >> k) & 1) = 0
                            THEN CASE WHEN ((hx >> k) & 1) = 1
                                      THEN ((CAST(1 AS BIGINT) << k) - 1)
                                           - (hx & ((CAST(1 AS BIGINT) << k) - 1))
                                      ELSE hx & ((CAST(1 AS BIGINT) << k) - 1) END
                            ELSE hy & ((CAST(1 AS BIGINT) << k) - 1) END AS hy,
                       d | (xor(3 * ((hx >> k) & 1), (hy >> k) & 1) << (2 * k)) AS d,
                       k - 1 AS k
                FROM hil WHERE k >= 0
            )
"""


def oracle_sql() -> dict[str, str]:
    from pygridmap_spark.operators.robots import SITEMAP_BLOCK_PATTERN as _RB_SITEMAP_BLOCK

    score_cols, lang_case = _lang_scores_sql()
    _em, _ip, _ph = PI.EMAIL_PATTERN, PI.IPV4_PATTERN, PI.PHONE_PATTERN
    from pygridmap_spark.functions import urls as _U
    _uhead, _utrack = _U._URL_HEAD_PATTERN, _U.TRACKING_PARAM_PATTERN
    geo_cte = f"WITH pts AS (SELECT doc_id, {_GEO_SQL} FROM documents)"
    return {
        "tile_assignment": f"""
            {geo_cte}
            SELECT doc_id,
                   CAST(floor((lon - 0.0) / 4.0) AS BIGINT) AS xt,
                   CAST(floor((lat - 0.0) / 4.0) AS BIGINT) AS yt,
                   CAST(floor((lon - 0.0) / 0.25 - floor((lon - 0.0) / 4.0) * 16) AS BIGINT) AS cx,
                   CAST(floor((lat - 0.0) / 0.25 - floor((lat - 0.0) / 4.0) * 16) AS BIGINT) AS cy
            FROM pts
        """,
        "tile_histogram": f"""
            {geo_cte}
            SELECT CAST(floor(lon / 4.0) AS BIGINT) AS xt,
                   CAST(floor(lat / 4.0) AS BIGINT) AS yt,
                   count(*) AS n_docs,
                   CAST(sum(d.n_chars) AS BIGINT) AS text_bytes
            FROM pts JOIN documents d USING (doc_id)
            GROUP BY 1, 2
        """,
        "cell_rollup": """
            WITH ev AS (
                SELECT value * 731.0 AS x, (user_id % 1000) * 13.7 AS y, value AS val
                FROM events
            )
            SELECT 400.0 * floor(x / 400.0) AS x,
                   400.0 * floor(y / 400.0) AS y,
                   round(CAST(sum(CAST(val AS DECIMAL(20,6))) AS DOUBLE), 6) AS val_sum
            FROM ev GROUP BY 1, 2
        """,
        "top1_per_cell": """
            SELECT CAST(cell AS BIGINT) AS cell, orderkey, linenumber, price FROM (
                SELECT l_orderkey % 97 AS cell, l_orderkey AS orderkey,
                       CAST(l_linenumber AS BIGINT) AS linenumber,
                       l_extendedprice AS price,
                       row_number() OVER (
                           PARTITION BY l_orderkey % 97
                           ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
                       ) AS rn
                FROM lineitem
            ) WHERE rn = 1
        """,
        "weighted_sum": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "pip_rect_join": f"""
            {geo_cte},
            rects AS (
                SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
                       -180.0 + (n_nationkey * 13 % 300) AS rxmin,
                       -60.0 + (n_nationkey * 7 % 100) AS rymin
                FROM nation
            )
            SELECT doc_id, poly_id
            FROM pts JOIN rects
              ON lon >= rxmin AND lon < rxmin + 30.0
             AND lat >= rymin AND lat < rymin + 25.0
        """,
        "knn_cellring": f"""
            {geo_cte},
            qs AS (SELECT doc_id AS query_id, lon AS qx, lat AS qy FROM pts WHERE doc_id < 20),
            pairs AS (
                SELECT q.query_id, p.doc_id AS point_id,
                       sqrt((p.lon - q.qx) * (p.lon - q.qx) + (p.lat - q.qy) * (p.lat - q.qy)) AS d
                FROM qs q CROSS JOIN pts p
            )
            SELECT query_id, point_id, round(d, 6) AS dist, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY d ASC, point_id ASC
                ) AS rank FROM pairs
            ) WHERE rank <= 5
        """,
        "grid_overlay_offset": """
            WITH base AS (
                SELECT r1.range AS ix, r2.range AS iy,
                       r1.range * 5000.0 AS x, r2.range * 5000.0 AS y,
                       CAST(r1.range + r2.range * 20 + 1 AS DOUBLE) AS val
                FROM range(0, 20) r1, range(0, 20) r2
            ),
            off AS (
                SELECT r1.range + r2.range * 19 AS cell_id,
                       2500.0 + r1.range * 5000.0 AS x, 2500.0 + r2.range * 5000.0 AS y
                FROM range(0, 19) r1, range(0, 19) r2
            ),
            pieces AS (
                SELECT o.cell_id, b.val,
                       greatest(0, least(o.x + 5000.0, b.x + 5000.0) - greatest(o.x, b.x))
                     * greatest(0, least(o.y + 5000.0, b.y + 5000.0) - greatest(o.y, b.y)) AS piece
                FROM off o JOIN base b
                  ON b.x < o.x + 5000.0 AND b.x + 5000.0 > o.x
                 AND b.y < o.y + 5000.0 AND b.y + 5000.0 > o.y
            )
            SELECT cell_id, round(sum(val * piece / 25000000.0), 6) AS val
            FROM pieces WHERE piece > 0 GROUP BY cell_id
        """,
        "overlay_pieces_wkb": """
            WITH base AS (
                SELECT r1.range + r2.range * 20 AS poly_id,
                       r1.range * 5000.0 AS x, r2.range * 5000.0 AS y
                FROM range(0, 20) r1, range(0, 20) r2
            ),
            off AS (
                SELECT r1.range + r2.range * 19 AS cell_id,
                       2500.0 + r1.range * 5000.0 AS x, 2500.0 + r2.range * 5000.0 AS y
                FROM range(0, 19) r1, range(0, 19) r2
            )
            SELECT o.cell_id, b.poly_id,
                   round(greatest(o.x, b.x), 6) AS pxmin,
                   round(greatest(o.y, b.y), 6) AS pymin,
                   round(least(o.x + 5000.0, b.x + 5000.0), 6) AS pxmax,
                   round(least(o.y + 5000.0, b.y + 5000.0), 6) AS pymax,
                   round((least(o.x + 5000.0, b.x + 5000.0) - greatest(o.x, b.x))
                       * (least(o.y + 5000.0, b.y + 5000.0) - greatest(o.y, b.y)), 6) AS piece_area
            FROM off o JOIN base b
              ON b.x < o.x + 5000.0 AND b.x + 5000.0 > o.x
             AND b.y < o.y + 5000.0 AND b.y + 5000.0 > o.y
        """,
        "overlay_poly_poly": """
            WITH l AS (
                SELECT n_nationkey AS left_id,
                       -180.0 + (n_nationkey * 13 % 300) AS lx,
                       -60.0 + (n_nationkey * 7 % 100) AS ly
                FROM nation
            ),
            r AS (
                SELECT n_nationkey AS right_id,
                       -170.0 + (n_nationkey * 17 % 280) AS rx,
                       -55.0 + (n_nationkey * 11 % 90) AS ry
                FROM nation
            ),
            pieces AS (
                SELECT l.left_id, r.right_id,
                       greatest(0, least(l.lx + 30.0, r.rx + 20.0) - greatest(l.lx, r.rx))
                     * greatest(0, least(l.ly + 25.0, r.ry + 10.0) - greatest(l.ly, r.ry))
                     + greatest(0, least(l.lx + 30.0, r.rx + 10.0) - greatest(l.lx, r.rx))
                     * greatest(0, least(l.ly + 25.0, r.ry + 20.0) - greatest(l.ly, r.ry + 10.0)) AS piece
                FROM l CROSS JOIN r
            )
            SELECT left_id, right_id, round(piece, 6) AS piece_area,
                   round(piece / 300.0, 6) AS area_pct
            FROM pieces WHERE piece > 0
        """,
        "area_interpolate_rects": """
            WITH p AS (
                SELECT n_nationkey AS poly_id,
                       -180.0 + (n_nationkey * 13 % 300) AS rxmin,
                       -60.0 + (n_nationkey * 7 % 100) AS rymin,
                       CAST(n_nationkey + 1 AS DOUBLE) AS val
                FROM nation
            ),
            pr AS (SELECT poly_id, rxmin, rymin, rxmin + 30.0 AS rxmax, rymin + 25.0 AS rymax, val FROM p),
            cells AS (
                SELECT r1.range + r2.range * 24 AS cell_id,
                       -180.0 + r1.range * 15.0 AS x, -60.0 + r2.range * 15.0 AS y
                FROM range(0, 24) r1, range(0, 9) r2
            ),
            pieces AS (
                SELECT c.cell_id, pr.val,
                       greatest(0, least(c.x + 15.0, pr.rxmax) - greatest(c.x, pr.rxmin))
                     * greatest(0, least(c.y + 15.0, pr.rymax) - greatest(c.y, pr.rymin)) AS piece
                FROM cells c JOIN pr
                  ON pr.rxmin < c.x + 15.0 AND pr.rxmax > c.x
                 AND pr.rymin < c.y + 15.0 AND pr.rymax > c.y
            )
            -- double accumulation is safe HERE (documented exception to
            -- the decimal-sum rule): <= 25 terms, val and piece are exact
            -- integers (coords on 1.0 multiples), so sums sit >= 1.6e-7
            -- from any 6th-decimal rounding boundary vs ~1e-10 float noise
            SELECT cell_id,
                   round(sum(val * piece / 750.0), 6) AS val,
                   count(*) AS n_cover,
                   round(sum(piece), 6) AS piece_area,
                   round(sum(piece / 750.0), 6) AS area_pct
            FROM pieces WHERE piece > 0 GROUP BY cell_id
        """,
        "overlay_union_full": """
            WITH cells AS (
                SELECT r1.range + r2.range * 10 AS cell_id,
                       r1.range * 10000.0 AS x, r2.range * 10000.0 AS y
                FROM range(0, 10) r1, range(0, 10) r2
            ),
            polys AS (
                SELECT r1.range + r2.range * 10 AS poly_id,
                       55000.0 + r1.range * 10000.0 AS x,
                       55000.0 + r2.range * 10000.0 AS y,
                       CAST(r1.range + r2.range * 10 + 1 AS DOUBLE) AS val
                FROM range(0, 10) r1, range(0, 10) r2
            ),
            pieces AS (
                SELECT c.cell_id, p.poly_id,
                       greatest(0, least(c.x + 10000.0, p.x + 10000.0) - greatest(c.x, p.x))
                     * greatest(0, least(c.y + 10000.0, p.y + 10000.0) - greatest(c.y, p.y)) AS piece,
                       p.val
                FROM cells c JOIN polys p
                  ON p.x < c.x + 10000.0 AND p.x + 10000.0 > c.x
                 AND p.y < c.y + 10000.0 AND p.y + 10000.0 > c.y
            ),
            matched AS (SELECT * FROM pieces WHERE piece > 0)
            SELECT cell_id, poly_id, round(piece, 6) AS piece_area,
                   round(piece / 100000000.0, 6) AS area_pct, val
            FROM matched
            UNION ALL
            SELECT c.cell_id, NULL, NULL, NULL, NULL FROM cells c
            WHERE c.cell_id NOT IN (SELECT cell_id FROM matched)
            UNION ALL
            SELECT NULL, p.poly_id, NULL, NULL, p.val FROM polys p
            WHERE p.poly_id NOT IN (SELECT poly_id FROM matched)
        """,
        "raster_zonal_stats": """
            WITH raster AS (
                SELECT r1.range AS col, r2.range AS row,
                       CASE WHEN (r1.range + r2.range * 64) % 7 = 0 THEN NULL
                            ELSE CAST(r1.range + r2.range * 64 AS DOUBLE) END AS band1,
                       r1.range + 0.5 AS cx, (47 - r2.range) + 0.5 AS cy
                FROM range(0, 64) r1, range(0, 48) r2
            ),
            polys AS (
                SELECT * FROM (VALUES
                    (0, 3.0, 5.0, 31.0, 27.0),
                    (1, 20.0, 20.0, 64.0, 48.0),
                    (2, 40.0, 0.0, 58.0, 17.0)
                ) AS t(poly_id, x0, y0, x1, y1)
            )
            SELECT p.poly_id,
                   count(r.band1) AS n,
                   round(sum(r.band1), 6) AS band_sum,
                   round(avg(r.band1), 6) AS band_mean,
                   min(r.band1) AS band_min,
                   max(r.band1) AS band_max
            FROM polys p JOIN raster r
              ON r.cx > p.x0 AND r.cx < p.x1 AND r.cy > p.y0 AND r.cy < p.y1
            GROUP BY p.poly_id
        """,
        "grid_maker_qtree": """
            SELECT cell_x, cell_y, within FROM (
                SELECT r1.range AS cell_x, r2.range AS cell_y,
                       CAST(r1.range * 10000.0 < 68500.0 AND (r1.range + 1) * 10000.0 > 23000.0
                        AND r2.range * 10000.0 < 79500.0 AND (r2.range + 1) * 10000.0 > 31000.0
                           AS BIGINT) AS intersects,
                       CAST(r1.range * 10000.0 >= 23000.0 AND (r1.range + 1) * 10000.0 <= 68500.0
                        AND r2.range * 10000.0 >= 31000.0 AND (r2.range + 1) * 10000.0 <= 79500.0
                           AS BIGINT) AS within
                FROM range(0, 10) r1, range(0, 10) r2
            ) WHERE intersects = 1
        """,
        "connected_components": """
            WITH RECURSIVE e0 AS (
                SELECT DISTINCT event_id % 97 AS doc_a, (event_id * 7 + 13) % 97 AS doc_b
                FROM events WHERE event_id < 400
            ),
            edges AS (
                SELECT doc_a AS u, doc_b AS v FROM e0 WHERE doc_a < doc_b
                UNION SELECT doc_b, doc_a FROM e0 WHERE doc_a < doc_b
            ),
            reach(node, r) AS (
                SELECT u, u FROM edges
                UNION
                SELECT reach.node, edges.v FROM reach JOIN edges ON reach.r = edges.u
            )
            SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node
        """,
        "grid_hotspots": f"""
            WITH RECURSIVE {_hotspot_core_sql(3)},
            adj AS (
                SELECT a.cell_id AS u, b.cell_id AS v
                FROM core a JOIN core b
                  ON abs(a.cell_iy - b.cell_iy) <= 1
                 AND ((a.cell_ix - b.cell_ix + 64) % 64) IN (0, 1, 63)
                 AND a.cell_id <> b.cell_id
            ),
            reach(node, r) AS (
                SELECT cell_id, cell_id FROM core
                UNION
                SELECT reach.node, adj.v FROM reach JOIN adj ON reach.r = adj.u
            ),
            labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
            SELECT core.cell_ix, core.cell_iy, core.cell_id, core.n_points, labels.cluster_id
            FROM core JOIN labels ON core.cell_id = labels.node
        """,
        "cell_trend_mk": f"""
            WITH RECURSIVE {_spacetime_cube_sql()},
            {_mk_sql('cube', 'n', rounded=True)}
            SELECT cell_id, t_bins, s_stat,
                   round(var_s, 6) AS var_s, mk_z
            FROM mk
        """,
        "emerging_hotspots": f"""
            WITH RECURSIVE {_spacetime_cube_sql()},
            gg AS (
                SELECT t_bin, count(*) AS n_c, sum(n) AS sx,
                       sum(n * n) AS sxx
                FROM cube GROUP BY 1
            ),
            nbr AS (
                SELECT a.t_bin AS t_bin, a.cell_id AS cell_id,
                       sum(b.n) AS nbr_sum, count(*) AS nbr_cnt
                FROM cube a JOIN cube b
                  ON a.t_bin = b.t_bin
                 AND abs(a.cell_iy - b.cell_iy) <= 1
                 AND ((a.cell_ix - b.cell_ix + 64) % 64) IN (0, 1, 63)
                 AND a.cell_id <> b.cell_id
                GROUP BY 1, 2
            ),
            gj AS (
                SELECT cube.cell_ix, cube.cell_iy, cube.cell_id, cube.t_bin, cube.n,
                       coalesce(nbr.nbr_sum, 0) AS nbr_sum,
                       coalesce(nbr.nbr_cnt, 0) AS nbr_cnt,
                       gg.n_c, gg.sx, gg.sxx
                FROM cube
                LEFT JOIN nbr ON cube.cell_id = nbr.cell_id AND cube.t_bin = nbr.t_bin
                JOIN gg ON cube.t_bin = gg.t_bin
            ),
            gsc AS (
                SELECT cell_ix, cell_iy, cell_id, t_bin, n, n_c,
                       CAST(n_c AS DOUBLE) AS nd,
                       CAST(sx AS DOUBLE) / CAST(n_c AS DOUBLE) AS xbar,
                       CAST(sxx AS DOUBLE) / CAST(n_c AS DOUBLE)
                         - (CAST(sx AS DOUBLE) / CAST(n_c AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n_c AS DOUBLE)) AS s2,
                       CAST(1 + nbr_cnt AS DOUBLE) AS w,
                       CAST(n + nbr_sum AS DOUBLE) AS gx
                FROM gj
            ),
            gi AS (
                SELECT cell_ix, cell_iy, cell_id, t_bin,
                       CASE WHEN n_c > 1 AND s2 > 0 AND den > 0
                            THEN (gx - xbar * w) / den END AS gi_z
                FROM (SELECT gsc.*,
                             sqrt(s2) * sqrt((nd * w - w * w) / (nd - 1.0)) AS den
                      FROM gsc)
            ),
            {_mk_sql('gi', 'gi_z', rounded=False)},
            lastb AS (SELECT max(t_bin) AS lb FROM gi),
            glast AS (
                SELECT gi.cell_ix, gi.cell_iy, gi.cell_id, gi.gi_z AS gi_last
                FROM gi, lastb WHERE gi.t_bin = lastb.lb
            )
            SELECT g.cell_ix, g.cell_iy, g.cell_id, mk.t_bins,
                   round(mk.mk_z, 6) AS mk_z, round(g.gi_last, 6) AS gi_last,
                   CASE WHEN mk.mk_z >= 1.645 THEN 'up'
                        WHEN mk.mk_z <= -1.645 THEN 'down'
                        ELSE 'flat' END AS trend,
                   CASE WHEN g.gi_last >= 1.645 AND mk.mk_z >= 1.645 THEN 'intensifying'
                        WHEN g.gi_last >= 1.645 AND mk.mk_z <= -1.645 THEN 'diminishing'
                        WHEN g.gi_last >= 1.645 THEN 'persistent'
                        WHEN mk.mk_z >= 1.645 THEN 'emerging'
                        ELSE 'none' END AS category
            FROM glast g JOIN mk ON g.cell_id = mk.cell_id
        """,
        "grid_gi_star": f"""
            WITH {_hotspot_core_sql(1)},
            g AS (
                SELECT count(*) AS n, sum(n_points) AS sx,
                       sum(n_points * n_points) AS sxx
                FROM core
            ),
            nbr AS (
                SELECT a.cell_id AS cell_id,
                       sum(b.n_points) AS nbr_sum, count(*) AS nbr_cnt
                FROM core a JOIN core b
                  ON abs(a.cell_iy - b.cell_iy) <= 1
                 AND ((a.cell_ix - b.cell_ix + 64) % 64) IN (0, 1, 63)
                 AND a.cell_id <> b.cell_id
                GROUP BY a.cell_id
            ),
            j AS (
                SELECT core.cell_ix, core.cell_iy, core.cell_id, core.n_points,
                       coalesce(nbr.nbr_sum, 0) AS nbr_sum,
                       coalesce(nbr.nbr_cnt, 0) AS nbr_cnt,
                       g.n, g.sx, g.sxx
                FROM core LEFT JOIN nbr ON core.cell_id = nbr.cell_id, g
            ),
            sc AS (
                SELECT cell_ix, cell_iy, cell_id, n_points, n,
                       1 + nbr_cnt AS w_i,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
                       CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS s2,
                       CAST(1 + nbr_cnt AS DOUBLE) AS w,
                       CAST(n_points + nbr_sum AS DOUBLE) AS gx
                FROM j
            )
            SELECT cell_ix, cell_iy, cell_id, n_points, w_i,
                   round(CASE WHEN n > 1 AND s2 > 0 AND den > 0
                              THEN (gx - xbar * w) / den END, 6) AS gi_z
            FROM (SELECT sc.*,
                         sqrt(s2) * sqrt((nd * w - w * w) / (nd - 1.0)) AS den
                  FROM sc)
        """,
        "grid_morans_i": f"""
            WITH {_hotspot_core_sql(1)},
            nbr AS (
                SELECT a.cell_id AS cell_id,
                       sum(b.n_points) AS nbr_sum, count(*) AS nbr_cnt
                FROM core a JOIN core b
                  ON abs(a.cell_iy - b.cell_iy) <= 1
                 AND ((a.cell_ix - b.cell_ix + 64) % 64) IN (0, 1, 63)
                 AND a.cell_id <> b.cell_id
                GROUP BY a.cell_id
            ),
            g AS (
                SELECT core.n_points AS x,
                       coalesce(nbr.nbr_sum, 0) AS ns,
                       coalesce(nbr.nbr_cnt, 0) AS nc
                FROM core LEFT JOIN nbr ON core.cell_id = nbr.cell_id
            ),
            m AS (
                SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
                       sum(nc) AS s0, sum(nc * nc) AS swsq,
                       sum(x * ns) AS sxnx, sum(x * nc) AS sxw
                FROM g
            ),
            -- the double expression tree below restates
            -- hotspots.morans_i_cells verbatim (same associativity), so
            -- the values hash-match bit-for-bit after floor-rounding
            d1 AS (
                SELECT n, s0,
                       CAST(n AS DOUBLE) AS nd, CAST(s0 AS DOUBLE) AS s0d,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
                       CAST(sxx AS DOUBLE) AS sxxd,
                       CAST(sxw AS DOUBLE) AS sxwd,
                       CAST(sxnx AS DOUBLE) AS sxnxd,
                       CAST(swsq AS DOUBLE) AS swsqd
                FROM m
            ),
            d2 AS (
                SELECT *,
                       sxnxd - 2.0 * xbar * sxwd + xbar * xbar * s0d AS num,
                       sxxd - nd * xbar * xbar AS den,
                       -1.0 / (nd - 1.0) AS e_i
                FROM d1
            ),
            d3 AS (
                SELECT *,
                       (nd / s0d) * num / den AS morans,
                       (nd * nd * (2.0 * s0d) - nd * (4.0 * swsqd)
                          + 3.0 * s0d * s0d)
                         / ((nd * nd - 1.0) * s0d * s0d)
                         - e_i * e_i AS var_i,
                       (n > 2 AND s0 > 0 AND den > 0) AS ok
                FROM d2
            )
            SELECT n AS n_cells, s0,
                   floor((CASE WHEN ok THEN morans END) * 1e6 + 0.5) / 1e6
                       AS morans_i,
                   floor((CASE WHEN n > 1 THEN e_i END) * 1e6 + 0.5) / 1e6
                       AS e_i,
                   floor((CASE WHEN ok AND var_i > 0
                               THEN (morans - e_i) / sqrt(var_i) END)
                         * 1e6 + 0.5) / 1e6 AS z_i
            FROM d3
        """,
        "grid_local_morans": f"""
            WITH {_hotspot_core_sql(1)},
            nbr AS (
                SELECT a.cell_id AS cell_id,
                       sum(b.n_points) AS nbr_sum, count(*) AS nbr_cnt
                FROM core a JOIN core b
                  ON abs(a.cell_iy - b.cell_iy) <= 1
                 AND ((a.cell_ix - b.cell_ix + 64) % 64) IN (0, 1, 63)
                 AND a.cell_id <> b.cell_id
                GROUP BY a.cell_id
            ),
            g AS (
                SELECT count(*) AS n, sum(n_points) AS sx,
                       sum(n_points * n_points) AS sxx
                FROM core
            ),
            j AS (
                SELECT core.cell_ix, core.cell_iy, core.cell_id,
                       core.n_points, nbr.nbr_sum, nbr.nbr_cnt, g.n, g.sx, g.sxx
                FROM core LEFT JOIN nbr ON core.cell_id = nbr.cell_id, g
            ),
            sc AS (
                SELECT *,
                       CAST(n_points AS DOUBLE)
                         - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS dev,
                       CAST(nbr_sum AS DOUBLE)
                         - CAST(nbr_cnt AS DOUBLE)
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS lag_dev,
                       CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS m2
                FROM j
            )
            SELECT cell_ix, cell_iy, cell_id, n_points,
                   coalesce(nbr_cnt, 0) AS w_i,
                   floor((CASE WHEN nbr_cnt IS NOT NULL AND m2 > 0
                               THEN dev * lag_dev / m2 END) * 1e6 + 0.5) / 1e6
                       AS lisa_i,
                   CASE WHEN nbr_cnt IS NOT NULL AND m2 > 0 THEN
                       concat(CASE WHEN dev >= 0 THEN 'H' ELSE 'L' END,
                              CASE WHEN lag_dev >= 0 THEN 'H' ELSE 'L' END)
                   END AS quadrant
            FROM sc
        """,
        "grid_maker_trim": """
            SELECT r1.range AS cell_x, r2.range AS cell_y,
                   CAST(r1.range * 10000.0 < 68500.0 AND (r1.range + 1) * 10000.0 > 23000.0
                    AND r2.range * 10000.0 < 79500.0 AND (r2.range + 1) * 10000.0 > 31000.0
                       AS BIGINT) AS intersects,
                   CAST(r1.range * 10000.0 >= 23000.0 AND (r1.range + 1) * 10000.0 <= 68500.0
                    AND r2.range * 10000.0 >= 31000.0 AND (r2.range + 1) * 10000.0 <= 79500.0
                       AS BIGINT) AS within
            FROM range(0, 10) r1, range(0, 10) r2
        """,
        "raster_resample": """
            WITH raster AS (
                SELECT r1.range AS col, r2.range AS row,
                       CASE WHEN (r1.range + r2.range * 64) % 7 = 0 THEN NULL
                            ELSE CAST(r1.range + r2.range * 64 AS DOUBLE) END AS band1,
                       r1.range * 100.0 AS x, (47 - r2.range) * 100.0 AS y
                FROM range(0, 64) r1, range(0, 48) r2
            )
            SELECT 400.0 * floor(x / 400.0) AS x, 400.0 * floor(y / 400.0) AS y,
                   round(coalesce(sum(band1), 0), 6) AS band_sum
            FROM raster GROUP BY 1, 2
        """,
        "dedup_exact": f"""
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
            ),
            f AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM all_docs)
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
                   fp,
                   count(*) OVER (PARTITION BY fp) AS group_size
            FROM f QUALIFY group_size > 1
        """,
        "ann_cosine_topk": """
            WITH qs AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, c.vec_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM qs q CROSS JOIN embeddings c
            )
            SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10
        """,
        "ann_cosine_topk_np": """
            WITH qs AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, c.vec_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM qs q CROSS JOIN embeddings c
            )
            SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10
        """,
        "ann_cosine_topk_quantized": """
            WITH qs AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, c.vec_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM qs q CROSS JOIN embeddings c
            )
            SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   END AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_computed
            FROM documents
        """,
        "lang_id_counts": f"""
            WITH padded AS (SELECT ' ' || text || ' ' AS p FROM documents),
            scores AS (SELECT {score_cols} FROM padded)
            SELECT {lang_case} AS lang_pred, count(*) AS n
            FROM scores GROUP BY 1
        """,
        "quality_scores": r"""
            WITH feats AS (
                SELECT doc_id,
                       length(text) AS lt,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           / greatest(length(text), 1) AS alpha,
                       length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))
                           / greatest(length(text), 1) AS punct,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
                       ((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5.0
                      + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5.0
                      + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4.0
                      + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) / 4.0
                      + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) / 4.0
                       ) AS sw_hits
                FROM documents
            )
            SELECT doc_id,
                   round(0.25 * least(lt / 500.0, 1.0)
                       + 0.35 * alpha
                       + 0.20 * least(4.0 * punct, 1.0)
                       + 0.20 * least(4.0 * (sw_hits / greatest(ntok, 1)), 1.0), 6) AS quality
            FROM feats
        """,
        "fingerprints": f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents",
        "embedding_near_dup": """
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
            ),
            twins AS (
                SELECT vec_id + 1000000 AS vec_id,
                       list_transform(generate_series(1, len(embedding)),
                                      i -> embedding[i] * (1.0 + 0.001 * (i - 1))) AS embedding
                FROM base WHERE vec_id % 10 = 0
            ),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.93
        """,
        "events_windowed": """
            SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart_epoch,
                   event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionized": """
            WITH gaps AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
                SELECT user_id, ts, value,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps
            )
            SELECT user_id,
                   CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
                   CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_end_epoch,
                   COUNT(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
            FROM sess GROUP BY user_id, sid
        """,
        "contamination_stats": f"""
            WITH norm AS (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, len(t)-2),
                                     i -> concat(t[i],' ',t[i+1],' ',t[i+2]))) AS s
                FROM norm
            ),
            bench AS (
                SELECT DISTINCT g AS shingle
                FROM sh, unnest(s) AS u(g) WHERE doc_id % 17 = 0
            ),
            exploded AS (SELECT doc_id, g FROM sh, unnest(s) AS u(g)),
            counts AS (
                SELECT e.doc_id,
                       count(*) AS n_shingles,
                       sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
                FROM exploded e LEFT JOIN bench b ON e.g = b.shingle
                GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(c.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(c.n_matched, 0) AS BIGINT) AS n_matched,
                   round(CASE WHEN coalesce(c.n_shingles, 0) > 0
                         THEN CAST(c.n_matched AS DOUBLE) / c.n_shingles END, 6) AS contamination
            FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
        """,
        "repetition_stats": f"""
            WITH corpus AS (
                SELECT doc_id,
                       concat(text, chr(10),
                              CASE WHEN doc_id % 11 = 0 THEN text
                                   ELSE concat('unique tail ', doc_id) END) AS text
                FROM documents
            ),
            ls AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                                   x -> x != '') AS lines
                FROM corpus
            ),
            lc AS (
                SELECT doc_id, l, count(*) AS cnt, length(l) AS chars
                FROM ls, unnest(lines) AS u(l) GROUP BY doc_id, l
            ),
            pl AS (
                SELECT doc_id, sum(cnt) AS n_lines,
                       1.0 - count(*) / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac,
                       sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)
                       / CAST(sum(cnt * chars) AS DOUBLE) AS dup_line_char_frac
                FROM lc GROUP BY doc_id
            ),
            norm AS (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM corpus
            ),
            bi AS (
                SELECT doc_id, list_transform(generate_series(1, len(t)-1),
                               i -> concat(t[i],' ',t[i+1])) AS s
                FROM norm
            ),
            bc AS (
                SELECT doc_id, g, count(*) AS cnt
                FROM bi, unnest(s) AS u(g) GROUP BY doc_id, g
            ),
            pb AS (
                SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_bigrams
                FROM bc GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(coalesce(pl.n_lines, 0) AS BIGINT) AS n_lines,
                   round(pl.dup_line_frac, 6) AS dup_line_frac,
                   round(pl.dup_line_char_frac, 6) AS dup_line_char_frac,
                   round(CASE WHEN pb.n_bigrams IS NOT NULL
                         THEN least(pb.top_cnt * 2.0 / (pb.n_bigrams + 1), 1.0) END, 6)
                       AS top_bigram_frac
            FROM corpus c
            LEFT JOIN pl ON c.doc_id = pl.doc_id
            LEFT JOIN pb ON c.doc_id = pb.doc_id
        """,
        "domain_rollup": r"""
            WITH u AS (
                SELECT doc_id, n_chars,
                       concat('https://',
                              CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END,
                              'site', CAST(doc_id % 97 AS VARCHAR), '.',
                              (['com','co.uk','org','de'])[(doc_id % 4) + 1],
                              '/cat', CAST(doc_id % 7 AS VARCHAR), '/',
                              CAST(doc_id AS VARCHAR)) AS url
                FROM documents
            ),
            f AS (
                SELECT doc_id, n_chars,
                       lower(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
                       len(list_filter(
                           string_split(regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '/'),
                           x -> x != '')) AS path_depth
                FROM u
            ),
            r AS (
                SELECT *,
                       CASE WHEN host IN ('co.uk','com','org','de') THEN NULL
                            WHEN host SIMILAR TO '.*\.co\.uk'
                                 THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
                            WHEN host SIMILAR TO '.*\.(com|org|de)'
                                 THEN regexp_extract(host, '([^.]+\.(com|org|de))$', 1)
                            END AS registered_domain
                FROM f
            )
            SELECT registered_domain,
                   count(*) AS n_docs,
                   CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                   round(avg(path_depth), 6) AS avg_path_depth,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM r GROUP BY registered_domain
        """,
        "hll_distinct_rollup": """
            SELECT source,
                   count(DISTINCT doc_id) AS n_distinct,
                   count(DISTINCT doc_id) AS n_distinct_merged
            FROM documents GROUP BY source
        """,
        "union_exact_wkb": """
            WITH g AS (
                SELECT doc_id AS cell_id,
                       1024.0 + 256.0 * (doc_id % 3) AS r,
                       256.0 * (1 + doc_id % 4) AS d
                FROM documents WHERE doc_id < 200
            )
            SELECT cell_id,
                   2 AS n_geoms,
                   1 AS n_polys,
                   8 AS n_vertices,
                   round(-r, 6) AS xmin,
                   round(d + r, 6) AS xmax,
                   round(2.0 * (2.0 * r * r) - (2.0 * r - d) * (2.0 * r - d) / 2.0, 6) AS area
            FROM g
        """,
        "union_exact_distributed": """
            WITH g AS (
                SELECT doc_id AS gid,
                       1024.0 + 256.0 * (doc_id % 3) AS r,
                       256.0 * (1 + doc_id % 4) AS d,
                       doc_id * 16384.0 + 4100.0 AS cx,
                       4100.0 AS cy
                FROM documents WHERE doc_id < 200
            ),
            tiles AS (
                SELECT g.*, (gid * 8 + tx.x) AS tile_x, ty.y AS tile_y,
                       (gid * 8 + tx.x) * 2048.0 AS tx0,
                       ty.y * 2048.0 AS ty0
                FROM g, generate_series(1, 3) tx(x), generate_series(1, 2) ty(y)
            ),
            covered AS (
                SELECT gid, tile_x, tile_y, r, d
                FROM tiles
                WHERE (greatest(tx0 - cx, cx - (tx0 + 2048.0), 0.0)
                       + greatest(ty0 - cy, cy - (ty0 + 2048.0), 0.0)) < r
                   OR (greatest(tx0 - (cx + d), (cx + d) - (tx0 + 2048.0), 0.0)
                       + greatest(ty0 - cy, cy - (ty0 + 2048.0), 0.0)) < r
            )
            SELECT gid,
                   count(*) AS n_tiles,
                   round(2.0 * (2.0 * max(r) * max(r))
                         - (2.0 * max(r) - max(d)) * (2.0 * max(r) - max(d)) / 2.0,
                         6) AS area
            FROM covered
            GROUP BY gid
        """,
        "registered_domain_psl": """
            WITH h AS (
                SELECT doc_id, doc_id % 7 AS kind,
                       CAST(doc_id % 50 AS VARCHAR) AS m
                FROM documents
            )
            SELECT doc_id,
                   CASE kind
                       WHEN 0 THEN 'site' || m || '.com'
                       WHEN 1 THEN 'a.site' || m || '.co.uk'
                       WHEN 2 THEN 'shop' || m || '.foo' || m || '.ck'
                       WHEN 3 THEN 'www.ck'
                       WHEN 4 THEN 'sub' || m || '.www.ck'
                       WHEN 5 THEN 'co.uk'
                       ELSE 'host' || m || '.unknowntld'
                   END AS host,
                   CASE kind
                       WHEN 0 THEN 'site' || m || '.com'
                       WHEN 1 THEN 'site' || m || '.co.uk'
                       WHEN 2 THEN 'shop' || m || '.foo' || m || '.ck'
                       WHEN 3 THEN 'www.ck'
                       WHEN 4 THEN 'www.ck'
                       ELSE NULL
                   END AS registered_domain
            FROM h
        """,
        "overlay_dissolve_wkb": """
            WITH g AS (
                SELECT ix, iy FROM range(19) t1(ix), range(19) t2(iy)
            )
            SELECT CAST(ix + iy * 19 AS BIGINT) AS cell_id,
                   CAST(4 AS BIGINT) AS n_pieces,
                   CAST(1 AS INT) AS n_polys,
                   CAST(4 AS INT) AS n_vertices,
                   round(2500.0 + ix * 5000.0, 6) AS xmin,
                   round(2500.0 + iy * 5000.0, 6) AS ymin,
                   round(7500.0 + ix * 5000.0, 6) AS xmax,
                   round(7500.0 + iy * 5000.0, 6) AS ymax,
                   round(25000000.0, 6) AS area
            FROM g
        """,
        "reproject_laea": f"""
            WITH pts AS (
                SELECT doc_id,
                       -25.0 + (doc_id * 2654435761 % 70000) / 1000.0 AS lon,
                       30.0 + (doc_id * 2246822519 % 42000) / 1000.0 AS lat
                FROM documents
            ),
            tr AS (
                SELECT doc_id, lon, lat,
                       radians(lon) - {RPJ._LON0!r} AS lam,
                       sin(radians(lat)) AS sp
                FROM pts
            ),
            qv AS (
                SELECT *, {1.0 - RPJ._E2!r} * (sp / (1.0 - {RPJ._E2!r} * sp * sp)
                          - {1.0 / (2.0 * RPJ._E)!r}
                            * ln((1.0 - {RPJ._E!r} * sp) / (1.0 + {RPJ._E!r} * sp))) AS q
                FROM tr
            ),
            bt AS (
                SELECT *, asin(least(greatest(q / {RPJ._QP!r}, -1.0), 1.0)) AS beta
                FROM qv
            ),
            fw AS (
                SELECT doc_id, lon, lat,
                       {RPJ._FE!r} + {RPJ._RQ!r}
                           * sqrt(2.0 / (1.0 + {RPJ._SB1!r} * sin(beta)
                                             + {RPJ._CB1!r} * cos(beta) * cos(lam)))
                           * {RPJ._D!r} * cos(beta) * sin(lam) AS x,
                       {RPJ._FN!r} + ({RPJ._RQ!r}
                           * sqrt(2.0 / (1.0 + {RPJ._SB1!r} * sin(beta)
                                             + {RPJ._CB1!r} * cos(beta) * cos(lam)))
                           / {RPJ._D!r})
                           * ({RPJ._CB1!r} * sin(beta)
                              - {RPJ._SB1!r} * cos(beta) * cos(lam)) AS y
                FROM bt
            ),
            iv AS (
                SELECT *, (x - {RPJ._FE!r}) / {RPJ._D!r} AS xp,
                          (y - {RPJ._FN!r}) * {RPJ._D!r} AS yp
                FROM fw
            ),
            iv2 AS (SELECT *, sqrt(xp * xp + yp * yp) AS rho FROM iv),
            iv3 AS (
                SELECT *, 2.0 * asin(least(greatest(rho / {2.0 * RPJ._RQ!r}, -1.0), 1.0)) AS ce
                FROM iv2
            ),
            iv4 AS (
                SELECT *,
                       CASE WHEN rho = 0 THEN {RPJ._BETA1!r}
                            ELSE asin(least(greatest(cos(ce) * {RPJ._SB1!r}
                                 + yp * sin(ce) * {RPJ._CB1!r} / rho, -1.0), 1.0))
                       END AS beta2,
                       CASE WHEN rho = 0 THEN 0.0
                            ELSE atan2(xp * sin(ce),
                                       rho * {RPJ._CB1!r} * cos(ce)
                                       - yp * {RPJ._SB1!r} * sin(ce))
                       END AS lam2
                FROM iv3
            )
            SELECT doc_id,
                   round(lon, 6) AS lon, round(lat, 6) AS lat,
                   round(x, 1) AS x_laea, round(y, 1) AS y_laea,
                   round(degrees(lam2 + {RPJ._LON0!r}), 6) AS lon_rt,
                   round(degrees(beta2 + {RPJ._A2!r} * sin(2.0 * beta2)
                         + {RPJ._A4!r} * sin(4.0 * beta2)
                         + {RPJ._A6!r} * sin(6.0 * beta2)), 6) AS lat_rt
            FROM iv4
        """,
        "reproject_webmercator": f"""
            WITH pts AS (
                SELECT doc_id,
                       -179.9 + (doc_id * 2654435761 % 359800) / 1000.0 AS lon,
                       -85.0 + (doc_id * 2246822519 % 170000) / 1000.0 AS lat
                FROM documents
            ),
            fw AS (
                SELECT doc_id, lon, lat,
                       {RPJ._A!r} * radians(lon) AS x,
                       {RPJ._A * 0.5!r}
                           * ln((1.0 + sin(radians(lat)))
                                / (1.0 - sin(radians(lat)))) AS y
                FROM pts
            )
            SELECT doc_id,
                   round(lon, 6) AS lon, round(lat, 6) AS lat,
                   round(x, 1) AS x_merc, round(y, 1) AS y_merc,
                   round(degrees(x / {RPJ._A!r}), 9) AS lon_rt,
                   round(degrees(atan((exp(y / {RPJ._A!r})
                         - exp(-(y / {RPJ._A!r}))) / 2.0)), 9) AS lat_rt
            FROM fw
        """,
        "s2_cell_index": f"""
            {_S2_ORACLE_CTE}
            SELECT doc_id, CAST(face AS INTEGER) AS s2_face,
                   i AS s2_i, j AS s2_j, d AS s2_pos,
                   ((CAST(face AS BIGINT) << 24) + d) AS s2_compact,
                   (((CAST(face AS BIGINT) << 24) + d) >> 12) AS s2_l6
            FROM hil WHERE k = -1
        """,
        "s2_rollup": f"""
            {_S2_ORACLE_CTE}
            SELECT (((CAST(face AS BIGINT) << 24) + d) >> 14) AS s2_l5,
                   count(*) AS n_docs,
                   CAST(sum(dd.n_chars) AS BIGINT) AS chars
            FROM hil JOIN documents dd USING (doc_id)
            WHERE k = -1
            GROUP BY 1
        """,
        # s2_cell_area_rollup: the identical pyramid solid-angle closed form
        # (st->uv quadratic chart, inclusion-exclusion of
        # atan2(u*v, sqrt(1+u^2+v^2))) restated over the level-12 encode's
        # (i >> 6, j >> 6) — same double arithmetic order as
        # functions/s2.cell_area_sr.
        "s2_cell_area_rollup": f"""
            {_S2_ORACLE_CTE}
            , grp AS (
                SELECT CAST(face AS INTEGER) AS s2_face,
                       i >> 6 AS i6, j >> 6 AS j6,
                       count(*) AS n_docs
                FROM ij
                GROUP BY 1, 2, 3
            ),
            stb AS (
                SELECT s2_face, i6, j6, n_docs,
                       i6 * 0.015625 AS s0, (i6 + 1.0) * 0.015625 AS s1,
                       j6 * 0.015625 AS t0, (j6 + 1.0) * 0.015625 AS t1
                FROM grp
            ),
            uvb AS (
                SELECT s2_face, i6, j6, n_docs,
                       CASE WHEN s0 >= 0.5 THEN (4.0 * s0 * s0 - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0 - s0) * (1.0 - s0)) / 3.0
                       END AS u0,
                       CASE WHEN s1 >= 0.5 THEN (4.0 * s1 * s1 - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0 - s1) * (1.0 - s1)) / 3.0
                       END AS u1,
                       CASE WHEN t0 >= 0.5 THEN (4.0 * t0 * t0 - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0 - t0) * (1.0 - t0)) / 3.0
                       END AS v0,
                       CASE WHEN t1 >= 0.5 THEN (4.0 * t1 * t1 - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0 - t1) * (1.0 - t1)) / 3.0
                       END AS v1
                FROM stb
            ),
            ab AS (
                SELECT s2_face, i6, j6, n_docs,
                       (atan2(u1 * v1, sqrt(1.0 + u1 * u1 + v1 * v1))
                      - atan2(u0 * v1, sqrt(1.0 + u0 * u0 + v1 * v1))
                      - atan2(u1 * v0, sqrt(1.0 + u1 * u1 + v0 * v0))
                      + atan2(u0 * v0, sqrt(1.0 + u0 * u0 + v0 * v0)))
                       * (6371.0088 * 6371.0088) AS area
                FROM uvb
            )
            SELECT s2_face, i6, j6, n_docs,
                   round(area, 3) AS area_km2,
                   round(n_docs / area * 1e6, 6) AS density_mkm2
            FROM ab
        """,
        "knn_s2_geodesic": """
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            vec AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            qs AS (
                SELECT doc_id AS query_id, x AS qx, y AS qy, z AS qz
                FROM vec WHERE doc_id < 20
            ),
            pairs AS (
                SELECT q.query_id, p.doc_id AS point_id,
                       sqrt((p.x - q.qx) * (p.x - q.qx)
                          + (p.y - q.qy) * (p.y - q.qy)
                          + (p.z - q.qz) * (p.z - q.qz)) AS c
                FROM qs q CROSS JOIN vec p
            )
            SELECT query_id, point_id,
                   round(2.0 * asin(least(c / 2.0, 1.0)), 9) AS dist, rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY c ASC, point_id ASC
                ) AS rank FROM pairs
            ) WHERE rank <= 5
        """,
        "hex_polyfill": f"""
            WITH bounds AS (
                SELECT doc_id AS poly_id,
                       -900000.37 + (doc_id * 2654435761 % 1500000) AS x0,
                       -700000.59 + (doc_id * 2246822519 % 1200000) AS y0,
                       -900000.37 + (doc_id * 2654435761 % 1500000)
                           + 40000.21 + (doc_id * 40503 % 260000) AS x1,
                       -700000.59 + (doc_id * 2246822519 % 1200000)
                           + 40000.43 + (doc_id * 69997 % 260000) AS y1
                FROM documents WHERE doc_id < 50
            ),
            rrows AS (
                SELECT poly_id, x0, x1, r
                FROM bounds,
                     LATERAL unnest(generate_series(
                         CAST(ceil(y0 / {_HEX_SY!r}) AS BIGINT),
                         CAST(floor(y1 / {_HEX_SY!r}) AS BIGINT))) AS t(r)
            ),
            cells AS (
                SELECT poly_id, q, r
                FROM rrows,
                     LATERAL unnest(generate_series(
                         CAST(ceil(x0 / {_HEX_SX!r} - r / 2.0) AS BIGINT),
                         CAST(floor(x1 / {_HEX_SX!r} - r / 2.0) AS BIGINT))) AS t(q)
            )
            SELECT poly_id, q AS hex_q, r AS hex_r,
                   (q + 33554432) * 67108864 + (r + 33554432) AS hex_id
            FROM cells
        """,
        "s2_polyfill": """
            WITH bounds AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            st AS (
                SELECT poly_id,
                       CASE WHEN u0 >= 0.0 THEN sqrt(1.0 + 3.0 * u0) * 0.5
                            ELSE 1.0 - sqrt(1.0 - 3.0 * u0) * 0.5 END AS s0,
                       CASE WHEN u1 >= 0.0 THEN sqrt(1.0 + 3.0 * u1) * 0.5
                            ELSE 1.0 - sqrt(1.0 - 3.0 * u1) * 0.5 END AS s1,
                       CASE WHEN v0 >= 0.0 THEN sqrt(1.0 + 3.0 * v0) * 0.5
                            ELSE 1.0 - sqrt(1.0 - 3.0 * v0) * 0.5 END AS t0,
                       CASE WHEN v1 >= 0.0 THEN sqrt(1.0 + 3.0 * v1) * 0.5
                            ELSE 1.0 - sqrt(1.0 - 3.0 * v1) * 0.5 END AS t1
                FROM bounds
            ),
            irows AS (
                SELECT poly_id, t0, t1, i
                FROM st,
                     LATERAL unnest(generate_series(
                         CAST(ceil(s0 * 128.0 - 0.5) AS BIGINT),
                         CAST(floor(s1 * 128.0 - 0.5) AS BIGINT))) AS a(i)
            )
            SELECT poly_id, 2 AS s2_face, i AS s2_i, j AS s2_j
            FROM irows,
                 LATERAL unnest(generate_series(
                     CAST(ceil(t0 * 128.0 - 0.5) AS BIGINT),
                     CAST(floor(t1 * 128.0 - 0.5) AS BIGINT))) AS b(j)
        """,
        "pip_s2_zones": """
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            xyz AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            fuv AS (
                SELECT doc_id, x, y, z,
                       CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                                THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                            WHEN abs(y) >= abs(z)
                                THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT doc_id, face, -x / z AS u, -y / z AS v
                FROM fuv WHERE face = 2
            ),
            quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            )
            SELECT p.doc_id AS doc_id, q.poly_id AS poly_id
            FROM uv p JOIN quads q
              ON p.u >= q.u0 AND p.u <= q.u1
             AND p.v >= q.v0 AND p.v <= q.v1
        """,
        "region_filter_quads": """
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            xyz AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            fuv AS (
                SELECT doc_id, x, y, z,
                       CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                                THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                            WHEN abs(y) >= abs(z)
                                THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT doc_id, face, -x / z AS u, -y / z AS v
                FROM fuv WHERE face = 2
            ),
            quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            )
            SELECT p.doc_id AS doc_id, q.poly_id AS poly_id
            FROM uv p JOIN quads q
              ON p.u >= q.u0 AND p.u <= q.u1
             AND p.v >= q.v0 AND p.v <= q.v1
        """,
        "s2_cell_corners": """
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            xyz AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            fuv AS (
                SELECT doc_id, x, y, z,
                       CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                                THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                            WHEN abs(y) >= abs(z)
                                THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT doc_id, face,
                       CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y
                                 WHEN 2 THEN -x / z WHEN 3 THEN z / x
                                 WHEN 4 THEN z / y ELSE -y / z END AS u,
                       CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y
                                 WHEN 2 THEN -y / z WHEN 3 THEN y / x
                                 WHEN 4 THEN -x / y ELSE x / z END AS v
                FROM fuv
            ),
            ij AS (
                SELECT doc_id, face,
                       LEAST(GREATEST(CAST(floor((CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
                            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END) * 32.0) AS BIGINT), 0), 31) AS i,
                       LEAST(GREATEST(CAST(floor((CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
                            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END) * 32.0) AS BIGINT), 0), 31) AS j
                FROM uv
            ),
            cuv AS (
                SELECT doc_id, face, i, j,
                       CASE WHEN (i + 0.0)/32.0 >= 0.5 THEN (4.0*((i+0.0)/32.0)*((i+0.0)/32.0) - 1.0)/3.0
                            ELSE (1.0 - 4.0*(1.0-(i+0.0)/32.0)*(1.0-(i+0.0)/32.0))/3.0 END AS u0,
                       CASE WHEN (i + 1.0)/32.0 >= 0.5 THEN (4.0*((i+1.0)/32.0)*((i+1.0)/32.0) - 1.0)/3.0
                            ELSE (1.0 - 4.0*(1.0-(i+1.0)/32.0)*(1.0-(i+1.0)/32.0))/3.0 END AS u1,
                       CASE WHEN (j + 0.0)/32.0 >= 0.5 THEN (4.0*((j+0.0)/32.0)*((j+0.0)/32.0) - 1.0)/3.0
                            ELSE (1.0 - 4.0*(1.0-(j+0.0)/32.0)*(1.0-(j+0.0)/32.0))/3.0 END AS v0,
                       CASE WHEN (j + 1.0)/32.0 >= 0.5 THEN (4.0*((j+1.0)/32.0)*((j+1.0)/32.0) - 1.0)/3.0
                            ELSE (1.0 - 4.0*(1.0-(j+1.0)/32.0)*(1.0-(j+1.0)/32.0))/3.0 END AS v1
                FROM ij
            )
            SELECT doc_id, CAST(face AS BIGINT) AS s2_face, i AS s2_i, j AS s2_j,
                       round(degrees(atan2(
                         CASE face WHEN 0 THEN u0 WHEN 1 THEN 1.0 WHEN 2 THEN -v0 WHEN 3 THEN -v0 WHEN 4 THEN -1.0 ELSE u0 END,
                         CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -u0 WHEN 2 THEN -u0 WHEN 3 THEN -1.0 WHEN 4 THEN v0 ELSE -v0 END)), 9) AS c0_lon,
                       round(degrees(asin(
                         (CASE face WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN 1.0 WHEN 3 THEN -u0 WHEN 4 THEN -u0 ELSE -1.0 END)
                         / sqrt(1.0 + u0*u0 + v0*v0))), 9) AS c0_lat,
                       round(degrees(atan2(
                         CASE face WHEN 0 THEN u1 WHEN 1 THEN 1.0 WHEN 2 THEN -v0 WHEN 3 THEN -v0 WHEN 4 THEN -1.0 ELSE u1 END,
                         CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -u1 WHEN 2 THEN -u1 WHEN 3 THEN -1.0 WHEN 4 THEN v0 ELSE -v0 END)), 9) AS c1_lon,
                       round(degrees(asin(
                         (CASE face WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN 1.0 WHEN 3 THEN -u1 WHEN 4 THEN -u1 ELSE -1.0 END)
                         / sqrt(1.0 + u1*u1 + v0*v0))), 9) AS c1_lat,
                       round(degrees(atan2(
                         CASE face WHEN 0 THEN u1 WHEN 1 THEN 1.0 WHEN 2 THEN -v1 WHEN 3 THEN -v1 WHEN 4 THEN -1.0 ELSE u1 END,
                         CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -u1 WHEN 2 THEN -u1 WHEN 3 THEN -1.0 WHEN 4 THEN v1 ELSE -v1 END)), 9) AS c2_lon,
                       round(degrees(asin(
                         (CASE face WHEN 0 THEN v1 WHEN 1 THEN v1 WHEN 2 THEN 1.0 WHEN 3 THEN -u1 WHEN 4 THEN -u1 ELSE -1.0 END)
                         / sqrt(1.0 + u1*u1 + v1*v1))), 9) AS c2_lat,
                       round(degrees(atan2(
                         CASE face WHEN 0 THEN u0 WHEN 1 THEN 1.0 WHEN 2 THEN -v1 WHEN 3 THEN -v1 WHEN 4 THEN -1.0 ELSE u0 END,
                         CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -u0 WHEN 2 THEN -u0 WHEN 3 THEN -1.0 WHEN 4 THEN v1 ELSE -v1 END)), 9) AS c3_lon,
                       round(degrees(asin(
                         (CASE face WHEN 0 THEN v1 WHEN 1 THEN v1 WHEN 2 THEN 1.0 WHEN 3 THEN -u0 WHEN 4 THEN -u0 ELSE -1.0 END)
                         / sqrt(1.0 + u0*u0 + v1*v1))), 9) AS c3_lat
            FROM cuv
        """,
        "zones_intersect_s2": """
            WITH qa AS (
                SELECT doc_id AS pl,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            qb AS (
                SELECT doc_id AS pr,
                       -0.8311 + (doc_id * 1327217885 % 1130) / 1000.0 AS u0,
                       -0.7961 + (doc_id * 2971215073 % 1190) / 1000.0 AS v0,
                       -0.8311 + (doc_id * 1327217885 % 1130) / 1000.0
                           + 0.0509 + (doc_id * 28657 % 299) / 1000.0 AS u1,
                       -0.7961 + (doc_id * 2971215073 % 1190) / 1000.0
                           + 0.0451 + (doc_id * 514229 % 347) / 1000.0 AS v1
                FROM documents WHERE doc_id < 60
            )
            SELECT qa.pl AS poly_id_l, qb.pr AS poly_id_r
            FROM qa JOIN qb
              ON qa.u0 < qb.u1 AND qb.u0 < qa.u1
             AND qa.v0 < qb.v1 AND qb.v0 < qa.v1
        """,
        # geodesic_zone_area: the Spark side fan-triangulates the WKB rings
        # (Van Oosterom & Strackee spherical excess); the oracle uses the
        # pyramid solid-angle closed form of the SAME uv rect — two
        # independent derivations of one exact quantity (measured agreement
        # 3e-16 sr vs the 5e-10 rounding boundary). Membership is the
        # pip_s2_zones uv-range arithmetic.
        "geodesic_zone_area": """
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            xyz AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            fuv AS (
                SELECT doc_id, x, y, z,
                       CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                                THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                            WHEN abs(y) >= abs(z)
                                THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT doc_id, -x / z AS u, -y / z AS v
                FROM fuv WHERE face = 2
            ),
            quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            cnt AS (
                SELECT q.poly_id, count(*) AS n
                FROM uv p JOIN quads q
                  ON p.u >= q.u0 AND p.u <= q.u1
                 AND p.v >= q.v0 AND p.v <= q.v1
                GROUP BY 1
            ),
            ar AS (
                SELECT poly_id,
                       atan2(u1 * v1, sqrt(1.0 + u1 * u1 + v1 * v1))
                     - atan2(u0 * v1, sqrt(1.0 + u0 * u0 + v1 * v1))
                     - atan2(u1 * v0, sqrt(1.0 + u1 * u1 + v0 * v0))
                     + atan2(u0 * v0, sqrt(1.0 + u0 * u0 + v0 * v0)) AS sr
                FROM quads
            )
            SELECT a.poly_id,
                   round(a.sr, 9) AS area_sr,
                   round(a.sr * (6371.0088 * 6371.0088), 3) AS area_km2,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_points,
                   round(COALESCE(c.n, 0)
                         / (a.sr * (6371.0088 * 6371.0088)) * 1e6,
                         6) AS density_mkm2
            FROM ar a LEFT JOIN cnt c USING (poly_id)
        """,
        # geodesic_zone_perimeter: the Spark side sums per-edge
        # great-circle arcs over the decoded WKB vertices; the oracle uses
        # the gnomonic-straightness of the quad edges — each edge is ONE
        # arc between unnormalized corner vectors (-u, -v, 1), so with
        # az = bz = 1 the cross product collapses to
        # (ay - by, bx - ax, ax*by - ay*bx) and the whole perimeter is
        # four atan2 terms of rect arithmetic. Compactness reuses the
        # pyramid solid-angle closed form. Measured agreement 2e-15 rad /
        # 3e-14 quotient vs >= 1e-2-of-a-unit rounding boundaries.
        "geodesic_zone_perimeter": """
            WITH quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            edges AS (
                SELECT poly_id, -u0 AS ax, -v0 AS ay, -u1 AS bx, -v0 AS by
                FROM quads
                UNION ALL
                SELECT poly_id, -u1, -v0, -u1, -v1 FROM quads
                UNION ALL
                SELECT poly_id, -u1, -v1, -u0, -v1 FROM quads
                UNION ALL
                SELECT poly_id, -u0, -v1, -u0, -v0 FROM quads
            ),
            per AS (
                SELECT poly_id,
                       sum(atan2(sqrt((ay - by) * (ay - by)
                                    + (bx - ax) * (bx - ax)
                                    + (ax * by - ay * bx)
                                        * (ax * by - ay * bx)),
                                 ax * bx + ay * by + 1.0)) AS p
                FROM edges GROUP BY 1
            ),
            ar AS (
                SELECT poly_id,
                       atan2(u1 * v1, sqrt(1.0 + u1 * u1 + v1 * v1))
                     - atan2(u0 * v1, sqrt(1.0 + u0 * u0 + v1 * v1))
                     - atan2(u1 * v0, sqrt(1.0 + u1 * u1 + v0 * v0))
                     + atan2(u0 * v0, sqrt(1.0 + u0 * u0 + v0 * v0)) AS sr
                FROM quads
            )
            SELECT p.poly_id,
                   round(p.p, 9) AS length_rad,
                   round(p.p * 6371.0088, 3) AS length_km,
                   round(a.sr * (4.0 * pi() - a.sr) / (p.p * p.p), 6)
                       AS compactness
            FROM per p JOIN ar a USING (poly_id)
        """,
        # geodesic_zone_centroid: the Spark side runs the vector-area
        # closed form over the decoded WKB vertices; the oracle restates
        # it over the four gnomonic-straight edges between unnormalized
        # corner vectors (-u, -v, 1): per edge, theta/|cross| * cross with
        # cross = (ay - by, bx - ax, ax*by - ay*bx) and
        # theta = atan2(|cross|, ax*bx + ay*by + 1). The summed vector's
        # direction IS the exact centroid. Fixture orientation gives
        # Vz > 0 for every quad (face 2), matching the kernel's
        # sign-of-excess orientation with no flip.
        "geodesic_zone_centroid": """
            WITH quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            edges AS (
                SELECT poly_id, -u0 AS ax, -v0 AS ay, -u1 AS bx, -v0 AS by
                FROM quads
                UNION ALL
                SELECT poly_id, -u1, -v0, -u1, -v1 FROM quads
                UNION ALL
                SELECT poly_id, -u1, -v1, -u0, -v1 FROM quads
                UNION ALL
                SELECT poly_id, -u0, -v1, -u0, -v0 FROM quads
            ),
            terms AS (
                SELECT poly_id,
                       ay - by AS cx, bx - ax AS cy,
                       ax * by - ay * bx AS cz,
                       sqrt((ay - by) * (ay - by) + (bx - ax) * (bx - ax)
                            + (ax * by - ay * bx) * (ax * by - ay * bx))
                           AS ncr,
                       ax * bx + ay * by + 1.0 AS dot
                FROM edges
            ),
            vec AS (
                SELECT poly_id,
                       sum(atan2(ncr, dot) / (CASE WHEN ncr = 0 THEN 1.0
                                                   ELSE ncr END) * cx) AS vx,
                       sum(atan2(ncr, dot) / (CASE WHEN ncr = 0 THEN 1.0
                                                   ELSE ncr END) * cy) AS vy,
                       sum(atan2(ncr, dot) / (CASE WHEN ncr = 0 THEN 1.0
                                                   ELSE ncr END) * cz) AS vz
                FROM terms GROUP BY 1
            )
            SELECT poly_id,
                   round(degrees(atan2(vy, vx)), 6) AS centroid_lon,
                   round(degrees(asin(vz / sqrt(vx * vx + vy * vy
                                                + vz * vz))), 6)
                       AS centroid_lat
            FROM vec
        """,
        # geodesic_zone_stats: the fused one-pass operator gated by the
        # UNION of the three independent closed forms (pyramid solid
        # angle for area, four edge arcs for length, summed edge-normal
        # vector for the centroid) — same CTEs as the three single-stat
        # oracles, joined on poly_id.
        "geodesic_zone_stats": """
            WITH quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            ar AS (
                SELECT poly_id,
                       atan2(u1 * v1, sqrt(1.0 + u1 * u1 + v1 * v1))
                     - atan2(u0 * v1, sqrt(1.0 + u0 * u0 + v1 * v1))
                     - atan2(u1 * v0, sqrt(1.0 + u1 * u1 + v0 * v0))
                     + atan2(u0 * v0, sqrt(1.0 + u0 * u0 + v0 * v0)) AS sr
                FROM quads
            ),
            edges AS (
                SELECT poly_id, -u0 AS ax, -v0 AS ay, -u1 AS bx, -v0 AS by
                FROM quads
                UNION ALL
                SELECT poly_id, -u1, -v0, -u1, -v1 FROM quads
                UNION ALL
                SELECT poly_id, -u1, -v1, -u0, -v1 FROM quads
                UNION ALL
                SELECT poly_id, -u0, -v1, -u0, -v0 FROM quads
            ),
            terms AS (
                SELECT poly_id,
                       ay - by AS cx, bx - ax AS cy,
                       ax * by - ay * bx AS cz,
                       sqrt((ay - by) * (ay - by) + (bx - ax) * (bx - ax)
                            + (ax * by - ay * bx) * (ax * by - ay * bx))
                           AS ncr,
                       ax * bx + ay * by + 1.0 AS dot
                FROM edges
            ),
            agg AS (
                SELECT poly_id,
                       sum(atan2(ncr, dot)) AS p,
                       sum(atan2(ncr, dot) / (CASE WHEN ncr = 0 THEN 1.0
                                                   ELSE ncr END) * cx) AS vx,
                       sum(atan2(ncr, dot) / (CASE WHEN ncr = 0 THEN 1.0
                                                   ELSE ncr END) * cy) AS vy,
                       sum(atan2(ncr, dot) / (CASE WHEN ncr = 0 THEN 1.0
                                                   ELSE ncr END) * cz) AS vz
                FROM terms GROUP BY 1
            )
            SELECT g.poly_id,
                   round(a.sr, 9) AS area_sr,
                   round(a.sr * (6371.0088 * 6371.0088), 3) AS area_km2,
                   round(g.p, 9) AS length_rad,
                   round(g.p * 6371.0088, 3) AS length_km,
                   round(degrees(atan2(g.vy, g.vx)), 6) AS centroid_lon,
                   round(degrees(asin(g.vz / sqrt(g.vx * g.vx + g.vy * g.vy
                                                  + g.vz * g.vz))), 6)
                       AS centroid_lat,
                   round(a.sr * (4.0 * pi() - a.sr) / (g.p * g.p), 6)
                       AS compactness
            FROM agg g JOIN ar a USING (poly_id)
        """,
        # zone_border_depth: membership is the pip_s2_zones uv-range
        # arithmetic; the depth collapses because each quad edge's great
        # circle is the gnomonic plane u = const (x + u*z = 0) or
        # v = const — least of four asin(|plane distance|) terms. Exact
        # equality with the Spark foot-on-arc kernel holds on the
        # spherically CONVEX fixture quads (an interior point's nearest
        # boundary point is always a perpendicular foot).
        "zone_border_depth": """
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            xyz AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            fuv AS (
                SELECT doc_id, x, y, z,
                       CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                                THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                            WHEN abs(y) >= abs(z)
                                THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT doc_id, x, y, z, -x / z AS u, -y / z AS v
                FROM fuv WHERE face = 2
            ),
            quads AS (
                SELECT doc_id AS poly_id,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0 AS u0,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0 AS v0,
                       -0.8123 + (doc_id * 2654435761 % 1200) / 1000.0
                           + 0.0817 + (doc_id * 40503 % 400) / 1000.0 AS u1,
                       -0.8457 + (doc_id * 2246822519 % 1200) / 1000.0
                           + 0.0693 + (doc_id * 69997 % 400) / 1000.0 AS v1
                FROM documents WHERE doc_id < 30
            ),
            tag AS (
                SELECT p.doc_id, q.poly_id, p.x, p.y, p.z,
                       q.u0, q.v0, q.u1, q.v1
                FROM uv p JOIN quads q
                  ON p.u >= q.u0 AND p.u <= q.u1
                 AND p.v >= q.v0 AND p.v <= q.v1
            ),
            d AS (
                SELECT doc_id, poly_id,
                       least(
                           asin(abs(x + u0 * z) / sqrt(1.0 + u0 * u0)),
                           asin(abs(x + u1 * z) / sqrt(1.0 + u1 * u1)),
                           asin(abs(y + v0 * z) / sqrt(1.0 + v0 * v0)),
                           asin(abs(y + v1 * z) / sqrt(1.0 + v1 * v1))
                       ) AS depth
                FROM tag
            )
            SELECT doc_id, poly_id,
                   round(depth, 9) AS depth_rad,
                   round(depth * 6371.0088, 3) AS depth_km
            FROM d
        """,
        # domain_geo_dispersion: unit-vector components rounded to 9
        # decimals then summed as EXACT decimals in both engines (the
        # repo's decimal-accumulation idiom), so the sums are
        # order-independent and identical; the dispersion stats derive
        # from those exact sums in double.
        "route_corridor": _route_corridor_oracle_sql(),
        "domain_geo_dispersion": """
            WITH pts AS (
                SELECT doc_id,
                       doc_id % 41 AS domain_key,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            q AS (
                SELECT domain_key,
                       CAST(round(cos(radians(lat)) * cos(radians(lon)), 9)
                            AS DECIMAL(20,9)) AS x,
                       CAST(round(cos(radians(lat)) * sin(radians(lon)), 9)
                            AS DECIMAL(20,9)) AS y,
                       CAST(round(sin(radians(lat)), 9)
                            AS DECIMAL(20,9)) AS z
                FROM pts
            ),
            s AS (
                SELECT domain_key,
                       count(*) AS n,
                       CAST(sum(x) AS DOUBLE) AS sx,
                       CAST(sum(y) AS DOUBLE) AS sy,
                       CAST(sum(z) AS DOUBLE) AS sz
                FROM q GROUP BY 1
            )
            SELECT CAST(domain_key AS BIGINT) AS domain_key,
                   CAST(n AS BIGINT) AS n,
                   round(degrees(atan2(sy, sx)), 6) AS centroid_lon,
                   round(degrees(asin(sz / sqrt(sx*sx + sy*sy + sz*sz))), 6)
                       AS centroid_lat,
                   round(sqrt(sx*sx + sy*sy + sz*sz) / n, 9)
                       AS resultant_len,
                   round(1.0 - sqrt(sx*sx + sy*sy + sz*sz) / n, 9)
                       AS sph_variance
            FROM s
        """,
        "raster_to_s2_rollup": """
            WITH raster AS (
                SELECT r1.range AS cl, r2.range AS rw,
                       CASE WHEN (r1.range + r2.range * 64) % 7 = 0 THEN NULL
                            ELSE CAST(r1.range + r2.range * 64 AS DOUBLE) END AS band1,
                       CAST(3800000.0 + (r1.range + 0.5) * 20000.0 AS DOUBLE) AS x,
                       CAST(2600000.0 + (r2.range + 0.5) * 20000.0 AS DOUBLE) AS y
                FROM range(0, 64) r1, range(0, 48) r2
            ),
            iv AS (
                SELECT *, (x - 4321000.0) / 1.0004253945280137 AS xp,
                          (y - 3210000.0) * 1.0004253945280137 AS yp
                FROM raster
            ),
            iv2 AS (SELECT *, sqrt(xp * xp + yp * yp) AS rho FROM iv),
            iv3 AS (
                SELECT *, 2.0 * asin(least(greatest(rho / 12742014.361767035, -1.0), 1.0)) AS ce
                FROM iv2
            ),
            iv4 AS (
                SELECT *,
                       CASE WHEN rho = 0 THEN 0.9053975168158784
                            ELSE asin(least(greatest(cos(ce) * 0.7866706332158556
                                 + yp * sin(ce) * 0.6173729139148921 / rho, -1.0), 1.0))
                       END AS beta2,
                       CASE WHEN rho = 0 THEN 0.0
                            ELSE atan2(xp * sin(ce),
                                       rho * 0.6173729139148921 * cos(ce)
                                       - yp * 0.7866706332158556 * sin(ce))
                       END AS lam2
                FROM iv3
            ),
            ll AS (
                SELECT band1,
                       radians(degrees(lam2 + 0.17453292519943295)) AS rlon,
                       radians(degrees(beta2 + 0.00223920887347666 * sin(2.0 * beta2)
                             + 2.883084001206078e-06 * sin(4.0 * beta2)
                             + 5.033182737581254e-09 * sin(6.0 * beta2))) AS rlat
                FROM iv4
            ),
            xyz AS (
                SELECT band1,
                       cos(rlat) * cos(rlon) AS px,
                       cos(rlat) * sin(rlon) AS py,
                       sin(rlat) AS pz
                FROM ll
            ),
            fuv AS (
                SELECT band1, px, py, pz,
                       CASE WHEN abs(px) >= abs(py) AND abs(px) >= abs(pz)
                                THEN CASE WHEN px >= 0 THEN 0 ELSE 3 END
                            WHEN abs(py) >= abs(pz)
                                THEN CASE WHEN py >= 0 THEN 1 ELSE 4 END
                            ELSE CASE WHEN pz >= 0 THEN 2 ELSE 5 END
                       END AS face
                FROM xyz
            ),
            uv AS (
                SELECT band1, face,
                       CASE face WHEN 0 THEN py / px WHEN 1 THEN -px / py
                                 WHEN 2 THEN -px / pz WHEN 3 THEN pz / px
                                 WHEN 4 THEN pz / py ELSE -py / pz END AS u,
                       CASE face WHEN 0 THEN pz / px WHEN 1 THEN pz / py
                                 WHEN 2 THEN -py / pz WHEN 3 THEN py / px
                                 WHEN 4 THEN -px / py ELSE px / pz END AS v
                FROM fuv
            ),
            ij AS (
                SELECT band1, face,
                       LEAST(GREATEST(CAST(floor((CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
                            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END) * 256.0) AS BIGINT), 0), 255) AS i,
                       LEAST(GREATEST(CAST(floor((CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
                            ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END) * 256.0) AS BIGINT), 0), 255) AS j
                FROM uv
            )
            SELECT CAST(face AS BIGINT) AS s2_face, i AS s2_i, j AS s2_j,
                   count(*) AS n_cells, count(band1) AS n_valid,
                   round(sum(band1), 6) AS band_sum,
                   min(band1) AS band_min, max(band1) AS band_max
            FROM ij
            GROUP BY 1, 2, 3
        """,
        "s2_cells_to_poly": """
            WITH g AS (
                SELECT doc_id AS poly_id,
                       CAST(doc_id % 6 AS INTEGER) AS face,
                       (doc_id * 7) % 24 AS i0,
                       (doc_id * 11) % 26 AS j0,
                       1 + doc_id % 5 AS w,
                       1 + (doc_id * 3) % 4 AS h
                FROM documents WHERE doc_id < 40
            ),
            -- st coordinates of the dissolved rect outline's corners
            suv AS (
                SELECT poly_id, face,
                       CASE WHEN (i0 + 0.0) / 32.0 >= 0.5
                            THEN (4.0 * ((i0+0.0)/32.0) * ((i0+0.0)/32.0) - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0-(i0+0.0)/32.0) * (1.0-(i0+0.0)/32.0)) / 3.0 END AS u0,
                       CASE WHEN (i0 + w + 0.0) / 32.0 >= 0.5
                            THEN (4.0 * ((i0+w+0.0)/32.0) * ((i0+w+0.0)/32.0) - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0-(i0+w+0.0)/32.0) * (1.0-(i0+w+0.0)/32.0)) / 3.0 END AS u1,
                       CASE WHEN (j0 + 0.0) / 32.0 >= 0.5
                            THEN (4.0 * ((j0+0.0)/32.0) * ((j0+0.0)/32.0) - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0-(j0+0.0)/32.0) * (1.0-(j0+0.0)/32.0)) / 3.0 END AS v0,
                       CASE WHEN (j0 + h + 0.0) / 32.0 >= 0.5
                            THEN (4.0 * ((j0+h+0.0)/32.0) * ((j0+h+0.0)/32.0) - 1.0) / 3.0
                            ELSE (1.0 - 4.0 * (1.0-(j0+h+0.0)/32.0) * (1.0-(j0+h+0.0)/32.0)) / 3.0 END AS v1
                FROM g
            ),
            corners AS (
                SELECT poly_id, face, u0 AS u, v0 AS v FROM suv
                UNION ALL SELECT poly_id, face, u1, v0 FROM suv
                UNION ALL SELECT poly_id, face, u1, v1 FROM suv
                UNION ALL SELECT poly_id, face, u0, v1 FROM suv
            ),
            ll AS (
                SELECT poly_id, face,
                       degrees(atan2(
                         CASE face WHEN 0 THEN u WHEN 1 THEN 1.0 WHEN 2 THEN -v WHEN 3 THEN -v WHEN 4 THEN -1.0 ELSE u END,
                         CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -u WHEN 2 THEN -u WHEN 3 THEN -1.0 WHEN 4 THEN v ELSE -v END)) AS lon,
                       degrees(asin(
                         (CASE face WHEN 0 THEN v WHEN 1 THEN v WHEN 2 THEN 1.0 WHEN 3 THEN -u WHEN 4 THEN -u ELSE -1.0 END)
                         / sqrt(1.0 + u*u + v*v))) AS lat
                FROM corners
            )
            SELECT poly_id, face AS s2_face,
                   CAST(1 AS INTEGER) AS n_polys,
                   CAST(4 AS INTEGER) AS n_vertices,
                   round(min(lon), 9) AS min_lon, round(max(lon), 9) AS max_lon,
                   round(min(lat), 9) AS min_lat, round(max(lat), 9) AS max_lat,
                   round(sum(lon), 6) AS sum_lon, round(sum(lat), 6) AS sum_lat
            FROM ll
            GROUP BY poly_id, face
        """,
        "within_radius_s2": f"""
            WITH pts AS (
                SELECT doc_id,
                       -180.0 + (doc_id * 2654435761 % 360000) / 1000.0 AS lon,
                       -89.9 + (doc_id * 2246822519 % 179800) / 1000.0 AS lat
                FROM documents
            ),
            vec AS (
                SELECT doc_id,
                       cos(radians(lat)) * cos(radians(lon)) AS x,
                       cos(radians(lat)) * sin(radians(lon)) AS y,
                       sin(radians(lat)) AS z
                FROM pts
            ),
            qs AS (
                SELECT doc_id AS query_id, x AS qx, y AS qy, z AS qz
                FROM vec WHERE doc_id < 40
            )
            SELECT query_id, point_id, round(2.0 * asin(least(c / 2.0, 1.0)), 9) AS dist
            FROM (
                SELECT q.query_id, p.doc_id AS point_id,
                       sqrt((p.x - q.qx) * (p.x - q.qx)
                          + (p.y - q.qy) * (p.y - q.qy)
                          + (p.z - q.qz) * (p.z - q.qz)) AS c
                FROM qs q CROSS JOIN vec p
            ) WHERE c <= {_RADIUS_S2_CHORD!r}
        """,
        "hex_rollup": f"""
            WITH pts AS (
                SELECT doc_id, n_chars,
                       -25.0 + (doc_id * 2654435761 % 70000) / 1000.0 AS lon,
                       30.0 + (doc_id * 2246822519 % 42000) / 1000.0 AS lat
                FROM documents
            ),
            tr AS (
                SELECT doc_id, n_chars,
                       radians(lon) - {RPJ._LON0!r} AS lam,
                       sin(radians(lat)) AS sp
                FROM pts
            ),
            qv AS (
                SELECT *, {1.0 - RPJ._E2!r} * (sp / (1.0 - {RPJ._E2!r} * sp * sp)
                          - {1.0 / (2.0 * RPJ._E)!r}
                            * ln((1.0 - {RPJ._E!r} * sp) / (1.0 + {RPJ._E!r} * sp))) AS q
                FROM tr
            ),
            bt AS (
                SELECT *, asin(least(greatest(q / {RPJ._QP!r}, -1.0), 1.0)) AS beta
                FROM qv
            ),
            fw AS (
                SELECT doc_id, n_chars,
                       {RPJ._FE!r} + {RPJ._RQ!r}
                           * sqrt(2.0 / (1.0 + {RPJ._SB1!r} * sin(beta)
                                             + {RPJ._CB1!r} * cos(beta) * cos(lam)))
                           * {RPJ._D!r} * cos(beta) * sin(lam) AS x,
                       {RPJ._FN!r} + ({RPJ._RQ!r}
                           * sqrt(2.0 / (1.0 + {RPJ._SB1!r} * sin(beta)
                                             + {RPJ._CB1!r} * cos(beta) * cos(lam)))
                           / {RPJ._D!r})
                           * ({RPJ._CB1!r} * sin(beta)
                              - {RPJ._SB1!r} * cos(beta) * cos(lam)) AS y
                FROM bt
            ),
            hexf AS (
                SELECT doc_id, n_chars,
                       (x * (sqrt(3.0) / 3.0) - y / 3.0) / 50000.0 AS qf,
                       (y * (2.0 / 3.0)) / 50000.0 AS rf
                FROM fw
            ),
            hexr AS (
                SELECT doc_id, n_chars, qf, rf, -qf - rf AS sf,
                       round(qf, 0) AS rq, round(rf, 0) AS rr,
                       round(-qf - rf, 0) AS rs
                FROM hexf
            ),
            hexc AS (
                SELECT doc_id, n_chars,
                       CAST(CASE WHEN abs(rq - qf) > abs(rr - rf)
                                      AND abs(rq - qf) > abs(rs - sf)
                                 THEN -rr - rs ELSE rq END AS BIGINT) AS hq,
                       CAST(CASE WHEN NOT (abs(rq - qf) > abs(rr - rf)
                                           AND abs(rq - qf) > abs(rs - sf))
                                      AND abs(rr - rf) > abs(rs - sf)
                                 THEN -rq - rs ELSE rr END AS BIGINT) AS hr
                FROM hexr
            )
            SELECT (hq + 33554432) * 67108864 + (hr + 33554432) AS hex_id,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   round((50000.0 * sqrt(3.0)) * (hq + hr / 2.0), 1) AS cx,
                   round((50000.0 * 1.5) * CAST(hr AS DOUBLE), 1) AS cy
            FROM hexc
            GROUP BY hq, hr
        """,
        "stratified_sample": """
            WITH b AS (
                SELECT doc_id, source,
                       CAST(concat('0x', substr(md5(concat('mix-v1', ':', CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                       / 4294967296.0 AS bucket
                FROM documents
            )
            SELECT doc_id, source FROM b
            WHERE bucket < CASE source
                               WHEN 'src0' THEN 1.0
                               WHEN 'src1' THEN 0.5
                               WHEN 'src2' THEN 0.25
                               ELSE 0.1 END
        """,
        "weighted_sample": """
            WITH s AS (
                SELECT doc_id, lang,
                       ln((CAST(concat('0x', substr(md5(concat('es-v1', ':',
                                CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           + 0.5) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE) AS score
                FROM documents WHERE n_chars > 0
            ),
            r AS (
                SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY score DESC, doc_id) AS rn
                FROM s
            )
            SELECT doc_id, lang, floor(score * 1e9 + 0.5) / 1e9 AS score
            FROM r WHERE rn <= 25
        """,
        "pack_sequences": """
            WITH d AS (
                SELECT doc_id, doc_id % 8 AS shard, n_chars FROM documents
            ),
            c AS (
                SELECT doc_id, shard, n_chars,
                       coalesce(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM d
            )
            SELECT doc_id, shard,
                   CAST(floor(cum / 2048) AS BIGINT) AS seq_id,
                   CAST(cum % 2048 AS BIGINT) AS seq_offset,
                   CAST(CASE WHEN n_chars <= 0 THEN 0
                        ELSE floor((cum + n_chars - 1) / 2048) - floor(cum / 2048) + 1
                        END AS BIGINT) AS n_seqs
            FROM c
        """,
        "pii_redact": f"""
            WITH h AS (
                SELECT doc_id, text,
                       CAST(doc_id % 50 AS VARCHAR) AS m,
                       CAST(doc_id % 30 + 20 AS VARCHAR) AS cc,
                       doc_id % 5 AS kind,
                       substr(text, 1, 30) AS base
                FROM documents
            ), s AS (
                SELECT doc_id,
                       CASE kind
                           WHEN 0 THEN base || ' contact user' || m
                                || '@example' || m || '.com for details'
                           WHEN 1 THEN base || ' origin 10.' || m || '.0.'
                                || m || ' call +44 ' || cc || ' 7946 0958'
                           WHEN 2 THEN text
                           WHEN 3 THEN 'dual a' || m || '@b' || m
                                || '.org and 192.168.' || m || '.9 plus c'
                                || m || '@d' || m || '.net'
                           ELSE 'ref ' || m || ' phone +1 800-555-0199 end'
                       END AS ptext
                FROM h
            ), c AS (
                SELECT doc_id, ptext,
                       CAST(len(regexp_extract_all(ptext, '{_em}')) AS BIGINT) AS n_emails,
                       CAST(len(regexp_extract_all(ptext, '{_ip}')) AS BIGINT) AS n_ipv4,
                       CAST(len(regexp_extract_all(ptext, '{_ph}')) AS BIGINT) AS n_phones
                FROM s
            )
            SELECT doc_id, n_emails, n_ipv4, n_phones,
                   (n_emails + n_ipv4 + n_phones) > 0 AS has_pii,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                       ptext, '{_em}', '<EMAIL>', 'g'), '{_ip}', '<IP>', 'g'),
                       '{_ph}', '<PHONE>', 'g')) AS redacted_md5
            FROM c
        """,
        "canonical_url_dedup": f"""
            WITH d AS (
                SELECT doc_id, CAST(doc_id % 50 AS VARCHAR) AS m,
                       doc_id % 7 AS k
                FROM documents
            ), u AS (
                SELECT doc_id,
                       CASE k
                           WHEN 0 THEN 'HTTPS://WWW.Example' || m
                                || '.COM:443/Path/' || m
                                || '?utm_source=x&id=' || m || '#frag'
                           WHEN 1 THEN 'https://www.example' || m
                                || '.com/Path/' || m || '?id=' || m
                           WHEN 2 THEN 'http://Site' || m
                                || '.org:80/a/b?utm_campaign=c'
                           WHEN 3 THEN 'http://site' || m || '.org/a/b'
                           WHEN 4 THEN 'https://example' || m
                                || '.com/?gclid=abc' || m
                           WHEN 5 THEN 'https://example' || m || '.com/'
                           ELSE 'ftp://Files.example' || m || '.net/x'
                                || CAST(doc_id AS VARCHAR)
                       END AS url
                FROM d
            ), a AS (
                SELECT doc_id, regexp_replace(url, '#.*$', '') AS u1 FROM u
            ), b AS (
                SELECT doc_id, u1,
                       regexp_extract(u1, '{_uhead}') AS head
                FROM a
            ), c AS (
                SELECT doc_id,
                       CASE
                           WHEN lower(head) LIKE 'http://%'
                                AND lower(head) LIKE '%:80'
                               THEN substr(lower(head), 1, length(head) - 3)
                           WHEN lower(head) LIKE 'https://%'
                                AND lower(head) LIKE '%:443'
                               THEN substr(lower(head), 1, length(head) - 4)
                           ELSE lower(head)
                       END || substr(u1, length(head) + 1) AS u2
                FROM b
            ), s AS (
                SELECT doc_id, u2,
                       regexp_extract(u2, '^[^?]*') AS base
                FROM c
            ), t AS (
                SELECT doc_id,
                       CASE WHEN q = '' THEN base
                            ELSE base || '?' || q END AS canonical_url
                FROM (
                    SELECT doc_id, base,
                           regexp_replace(regexp_replace(
                               CASE WHEN length(u2) > length(base)
                                    THEN substr(u2, length(base) + 2)
                                    ELSE '' END,
                               '{_utrack}', '', 'g'), '^&+', '') AS q
                    FROM s
                )
            ), r AS (
                SELECT doc_id, canonical_url,
                       row_number() OVER (PARTITION BY canonical_url
                                          ORDER BY doc_id) AS rn
                FROM t
            )
            SELECT doc_id, canonical_url FROM r WHERE rn = 1
        """,
        "host_link_graph": """
            WITH d AS (
                SELECT doc_id,
                       CAST(doc_id % 30 AS VARCHAR) AS s,
                       CAST((doc_id * 3 + 1) % 40 AS VARCHAR) AS a,
                       CAST((doc_id * 7 + 2) % 40 AS VARCHAR) AS b
                FROM documents
            ), pages AS (
                SELECT 'https://s' || s || '.example/p'
                           || CAST(doc_id AS VARCHAR) AS url,
                       '<a href="https://t' || a || '.example/x'
                           || CAST(doc_id AS VARCHAR) || '">1</a> mid '
                           || '<a href="http://t' || b
                           || '.example/y">2</a>'
                           || CASE WHEN doc_id % 4 = 0
                                   THEN ' <a href="https://s' || s
                                        || '.example/self">nav</a>'
                                   ELSE '' END AS html
                FROM d
            ), links AS (
                SELECT url,
                       lower(regexp_extract(
                           url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1
                       )) AS src_host,
                       lower(regexp_extract(
                           link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1
                       )) AS dst_host
                FROM (
                    SELECT url,
                           unnest(regexp_extract_all(
                               html, 'href="(https?://[^"]+)"', 1
                           )) AS link
                    FROM pages
                )
            )
            SELECT src_host, dst_host,
                   count(*) AS n_links,
                   count(DISTINCT url) AS n_pages
            FROM links
            WHERE src_host <> '' AND dst_host <> ''
              AND src_host <> dst_host
            GROUP BY src_host, dst_host
        """,
        "host_reciprocity": """
            WITH raw AS (
                SELECT doc_id % 40 AS s, (doc_id * 3 + 1) % 40 AS d
                FROM documents
                UNION ALL
                SELECT doc_id % 40 AS s, (doc_id * 7 + 2) % 40 AS d
                FROM documents
            ),
            pairs AS (SELECT DISTINCT s, d FROM raw WHERE s != d),
            rec AS (
                SELECT p.s, p.d FROM pairs p
                JOIN pairs r ON p.s = r.d AND p.d = r.s
            ),
            o AS (SELECT s AS host, count(*) AS n_out FROM pairs GROUP BY s),
            rr AS (SELECT s AS host, count(*) AS n_reciprocal FROM rec GROUP BY s)
            SELECT o.host, o.n_out,
                   coalesce(rr.n_reciprocal, 0) AS n_reciprocal,
                   CAST(coalesce(rr.n_reciprocal, 0) AS DOUBLE)
                       / CAST(o.n_out AS DOUBLE) AS reciprocity
            FROM o LEFT JOIN rr USING (host)
        """,
        "host_pagerank_int": """
            WITH raw AS (
                SELECT doc_id % 40 AS s, (doc_id * 3 + 1) % 40 AS d
                FROM documents
            ),
            e AS (SELECT s, d, count(*) AS w FROM raw GROUP BY s, d),
            ow AS (SELECT s, sum(w) AS ow FROM e GROUP BY s),
            nodes AS (
                SELECT DISTINCT s AS h FROM e
                UNION
                SELECT DISTINCT d AS h FROM e
            ),
            r0 AS (SELECT h, CAST(1000000000 AS BIGINT) AS r FROM nodes),
            c1 AS (
                SELECT e.d AS h, SUM((r0.r // ow.ow) * e.w) AS c
                FROM e JOIN r0 ON e.s = r0.h JOIN ow ON e.s = ow.s
                GROUP BY e.d
            ),
            r1 AS (
                SELECT n.h,
                       CAST(150000000 + (85 * COALESCE(c1.c, 0)) // 100
                            AS BIGINT) AS r
                FROM nodes n LEFT JOIN c1 ON n.h = c1.h
            ),
            c2 AS (
                SELECT e.d AS h, SUM((r1.r // ow.ow) * e.w) AS c
                FROM e JOIN r1 ON e.s = r1.h JOIN ow ON e.s = ow.s
                GROUP BY e.d
            ),
            r2 AS (
                SELECT n.h,
                       CAST(150000000 + (85 * COALESCE(c2.c, 0)) // 100
                            AS BIGINT) AS r
                FROM nodes n LEFT JOIN c2 ON n.h = c2.h
            ),
            c3 AS (
                SELECT e.d AS h, SUM((r2.r // ow.ow) * e.w) AS c
                FROM e JOIN r2 ON e.s = r2.h JOIN ow ON e.s = ow.s
                GROUP BY e.d
            ),
            r3 AS (
                SELECT n.h,
                       CAST(150000000 + (85 * COALESCE(c3.c, 0)) // 100
                            AS BIGINT) AS r
                FROM nodes n LEFT JOIN c3 ON n.h = c3.h
            )
            SELECT h AS host, r AS rank FROM r3
        """,
        "host_hits_int": """
            WITH raw AS (
                SELECT doc_id % 37 AS s, (doc_id * 5 + 2) % 37 AS d
                FROM documents
            ),
            e AS (SELECT s, d, count(*) AS w FROM raw GROUP BY s, d),
            nodes AS (
                SELECT DISTINCT s AS h FROM e
                UNION
                SELECT DISTINCT d AS h FROM e
            ),
            h0 AS (SELECT h, CAST(1000000 AS BIGINT) AS v FROM nodes),
            ar1 AS (
                SELECT e.d AS h, SUM(h0.v * e.w) AS r
                FROM e JOIN h0 ON e.s = h0.h GROUP BY e.d
            ),
            a1 AS (
                SELECT n.h,
                       CAST((COALESCE(ar1.r, 0) * 1000000)
                            // greatest((SELECT COALESCE(SUM(r), 0) FROM ar1),
                                        1) AS BIGINT) AS v
                FROM nodes n LEFT JOIN ar1 ON n.h = ar1.h
            ),
            hr1 AS (
                SELECT e.s AS h, SUM(a1.v * e.w) AS r
                FROM e JOIN a1 ON e.d = a1.h GROUP BY e.s
            ),
            h1 AS (
                SELECT n.h,
                       CAST((COALESCE(hr1.r, 0) * 1000000)
                            // greatest((SELECT COALESCE(SUM(r), 0) FROM hr1),
                                        1) AS BIGINT) AS v
                FROM nodes n LEFT JOIN hr1 ON n.h = hr1.h
            ),
            ar2 AS (
                SELECT e.d AS h, SUM(h1.v * e.w) AS r
                FROM e JOIN h1 ON e.s = h1.h GROUP BY e.d
            ),
            a2 AS (
                SELECT n.h,
                       CAST((COALESCE(ar2.r, 0) * 1000000)
                            // greatest((SELECT COALESCE(SUM(r), 0) FROM ar2),
                                        1) AS BIGINT) AS v
                FROM nodes n LEFT JOIN ar2 ON n.h = ar2.h
            ),
            hr2 AS (
                SELECT e.s AS h, SUM(a2.v * e.w) AS r
                FROM e JOIN a2 ON e.d = a2.h GROUP BY e.s
            ),
            h2 AS (
                SELECT n.h,
                       CAST((COALESCE(hr2.r, 0) * 1000000)
                            // greatest((SELECT COALESCE(SUM(r), 0) FROM hr2),
                                        1) AS BIGINT) AS v
                FROM nodes n LEFT JOIN hr2 ON n.h = hr2.h
            )
            SELECT n.h AS host, h2.v AS hub, a2.v AS auth
            FROM nodes n
            JOIN h2 ON n.h = h2.h
            JOIN a2 ON n.h = a2.h
        """,
        "host_triangles": """
            WITH raw AS (
                SELECT 'h' || CAST(doc_id % 29 AS VARCHAR) AS s,
                       'h' || CAST((doc_id * 3 + 1) % 29 AS VARCHAR) AS d
                FROM documents
                UNION ALL
                SELECT 'h' || CAST((doc_id * 5 + 2) % 29 AS VARCHAR),
                       'h' || CAST((doc_id * 7 + 3) % 29 AS VARCHAR)
                FROM documents
            ),
            und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM raw WHERE s <> d
            ),
            tri AS (
                SELECT u1.a AS x, u1.b AS y, u2.b AS z
                FROM und u1
                JOIN und u2 ON u2.a = u1.b
                JOIN und u3 ON u3.a = u1.a AND u3.b = u2.b
            ),
            member AS (
                SELECT x AS host FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            )
            SELECT host, count(*) AS n_triangles
            FROM member GROUP BY host
        """,
        "anchor_text_index": """
            WITH d AS (
                SELECT doc_id,
                       CAST(doc_id % 30 AS VARCHAR) AS s,
                       CAST((doc_id * 3 + 1) % 40 AS VARCHAR) AS a,
                       CAST((doc_id * 7 + 2) % 40 AS VARCHAR) AS b,
                       CASE doc_id % 6
                           WHEN 0 THEN 'alpha beta'
                           WHEN 1 THEN 'beta gamma'
                           WHEN 2 THEN 'Gamma-Delta'
                           WHEN 3 THEN 'delta'
                           WHEN 4 THEN 'epsilon zeta'
                           ELSE 'zeta alpha' END AS t1,
                       CASE (doc_id * 5 + 3) % 6
                           WHEN 0 THEN 'alpha beta'
                           WHEN 1 THEN 'beta gamma'
                           WHEN 2 THEN 'Gamma-Delta'
                           WHEN 3 THEN 'delta'
                           WHEN 4 THEN 'epsilon zeta'
                           ELSE 'zeta alpha' END AS t2
                FROM documents
            ), pages AS (
                SELECT 'https://s' || s || '.example/p'
                           || CAST(doc_id AS VARCHAR) AS url,
                       '<a href="https://t' || a || '.example/x">' || t1
                           || '</a> mid '
                           || '<a href="http://t' || b || '.example/y">'
                           || t2 || '</a>'
                           || CASE WHEN doc_id % 5 = 0
                                   THEN ' <a href="https://s' || s
                                        || '.example/self">home nav</a>'
                                   ELSE '' END AS html
                FROM d
            ), tags AS (
                SELECT lower(regexp_extract(
                           url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1
                       )) AS src_host,
                       unnest(regexp_extract_all(
                           html, '<a href="(https?://[^"]+)">([^<]*)</a>', 0
                       )) AS tag
                FROM pages
            ), anchors AS (
                SELECT src_host,
                       lower(regexp_extract(
                           regexp_extract(
                               tag, '<a href="(https?://[^"]+)">([^<]*)</a>',
                               1),
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1
                       )) AS dst_host,
                       lower(regexp_extract(
                           tag, '<a href="(https?://[^"]+)">([^<]*)</a>', 2
                       )) AS atext
                FROM tags
            ), terms AS (
                SELECT src_host, dst_host, t AS term
                FROM (
                    SELECT src_host, dst_host,
                           regexp_split_to_array(atext, '[^a-z0-9]+') AS ts
                    FROM anchors
                    WHERE src_host <> '' AND dst_host <> ''
                      AND src_host <> dst_host
                ), unnest(ts) AS u(t)
                WHERE t != ''
            )
            SELECT dst_host, term,
                   count(*) AS n_anchors,
                   count(DISTINCT src_host) AS n_src_hosts
            FROM terms GROUP BY dst_host, term
        """,
        "template_fingerprint": """
            WITH pages AS (
                SELECT 'https://s' || CAST(doc_id % 30 AS VARCHAR)
                           || '.example/p' || CAST(doc_id AS VARCHAR)
                           AS url,
                       CASE doc_id % 4
                           WHEN 0 THEN '<html><Body><h1>t</h1><p>'
                                || substr(text, 1, 40)
                                || '</p></body></html>'
                           WHEN 1 THEN '<html><body><p>'
                                || substr(text, 1, 40)
                                || '</p><p>x</p></body></html>'
                           WHEN 2 THEN '<div class="m"><span>'
                                || substr(text, 1, 40) || '</span></div>'
                           ELSE '<article><p>' || substr(text, 1, 40)
                                || '</p><br/></article>' END AS html
                FROM documents
            ), sigs AS (
                SELECT array_to_string(regexp_extract_all(
                           lower(html), '<(/?[a-z][a-z0-9]*)[ />]', 1
                       ), ',') AS signature,
                       lower(regexp_extract(
                           url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1
                       )) AS host,
                       url
                FROM pages
            )
            SELECT signature,
                   count(*) AS n_pages,
                   count(DISTINCT host) AS n_hosts,
                   min(url) AS example_url
            FROM sigs
            WHERE signature <> ''
            GROUP BY signature
        """,
        "html_meta": _html_meta_oracle_sql(),
        "html_extract": f"""
            WITH pages AS (
                SELECT doc_id, text,
                       '<html><head><title>D' || CAST(doc_id AS VARCHAR)
                       || '</title><style>p{{color:red}}</style></head><body><p>'
                       || text
                       || '</p><script>var a="<b>junk</b>";</script>'
                       || '<div>tail &amp; end</div><!-- note --></body></html>'
                           AS html
                FROM documents
            ), ex AS (
                SELECT doc_id, text,
                       trim(regexp_replace(
                           replace(replace(replace(replace(replace(replace(
                               regexp_replace(regexp_replace(
                               regexp_replace(regexp_replace(html,
                                   '{TX.HTML_SCRIPT_PATTERN}', ' ', 'g'),
                                   '{TX.HTML_STYLE_PATTERN}', ' ', 'g'),
                                   '{TX.HTML_COMMENT_PATTERN}', ' ', 'g'),
                                   '{TX.HTML_TAG_PATTERN}', ' ', 'g'),
                               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                           '\\s+', ' ', 'g')) AS extracted
                FROM pages
            )
            SELECT doc_id,
                   md5(extracted) AS extract_md5,
                   CAST(length(extracted) AS BIGINT) AS n_chars,
                   strpos(extracted, text) > 0 AS contains_text
            FROM ex
        """,
        "quality_topfrac": """
            WITH d AS (
                SELECT doc_id, lang,
                       (doc_id * 7919 % 37) / 37.0 AS q
                FROM documents
            ), r AS (
                SELECT doc_id, lang, q,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY q DESC, doc_id) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM d
            )
            SELECT doc_id, lang,
                   floor(q * 1e6 + 0.5) / 1e6 AS quality
            FROM r
            WHERE rn <= ceil(0.6 * n)
        """,
        "line_dedup": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0
                            THEN concat('SHARED HEADER', chr(10), text)
                            ELSE text END AS text
                FROM documents
            ),
            exploded AS (
                SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                FROM corpus
            ),
            freq AS (
                SELECT line FROM exploded WHERE line != ''
                GROUP BY line HAVING count(DISTINCT doc_id) >= 10
            ),
            boiler AS (SELECT coalesce(list(line), []) AS bl FROM freq)
            SELECT c.doc_id,
                   md5(array_to_string(
                       list_filter(string_split(c.text, chr(10)),
                                   x -> NOT list_contains(b.bl, x)),
                       chr(10))) AS clean_md5,
                   CAST(len(list_filter(string_split(c.text, chr(10)),
                            x -> list_contains(b.bl, x))) AS BIGINT)
                       AS n_lines_removed
            FROM corpus c CROSS JOIN boiler b
        """,
        "paragraph_dedup": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0
                            THEN concat('SHARED PROMO PARAGRAPH',
                                        chr(10), chr(10), text)
                            ELSE text END AS text
                FROM documents
            ),
            exploded AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10) || chr(10))) AS para
                FROM corpus
            ),
            freq AS (
                SELECT para FROM exploded WHERE para != ''
                GROUP BY para HAVING count(DISTINCT doc_id) >= 10
            ),
            boiler AS (SELECT coalesce(list(para), []) AS bl FROM freq)
            SELECT c.doc_id,
                   md5(array_to_string(
                       list_filter(string_split(c.text, chr(10) || chr(10)),
                                   x -> NOT list_contains(b.bl, x)),
                       chr(10) || chr(10))) AS clean_md5,
                   CAST(len(list_filter(
                            string_split(c.text, chr(10) || chr(10)),
                            x -> list_contains(b.bl, x))) AS BIGINT)
                       AS n_paras_removed
            FROM corpus c CROSS JOIN boiler b
        """,
        "dup_span_removal": f"""
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN concat('subscribe to our newsletter today',
                                        ' for daily updates and exclusive',
                                        ' offers ', text)
                            ELSE text END AS text
                FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id % 9 = 0
            ),
            norm AS (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM corpus
            ),
            grams AS (
                SELECT doc_id, i - 1 AS s0,
                       array_to_string(t[i:i+4], ' ') AS g
                FROM norm,
                     unnest(generate_series(1, greatest(len(t) - 4, 0)))
                       AS u(i)
            ),
            dup AS (
                SELECT g FROM (SELECT g, doc_id FROM grams GROUP BY g, doc_id)
                GROUP BY g HAVING count(*) >= 2
            ),
            flagged AS (
                SELECT doc_id, s0 FROM grams WHERE g IN (SELECT g FROM dup)
            ),
            kept AS (
                SELECT n.doc_id, u.i, n.t[u.i] AS tok
                FROM norm n,
                     unnest(generate_series(1, len(n.t))) AS u(i)
                WHERE NOT EXISTS (
                    SELECT 1 FROM flagged f
                    WHERE f.doc_id = n.doc_id
                      AND u.i - 1 >= f.s0 AND u.i - 1 < f.s0 + 5
                )
            )
            SELECT n.doc_id,
                   CAST(len(n.t) AS BIGINT) AS n_tokens,
                   CAST(len(n.t) - count(k.tok) AS BIGINT) AS n_removed,
                   coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
                       AS text_clean
            FROM norm n LEFT JOIN kept k USING (doc_id)
            GROUP BY n.doc_id, len(n.t)
        """,
        "c4_clean": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 1
                            THEN text || chr(10) || 'bad line no punct'
                                 || chr(10)
                                 || 'Good sentence with many words here.'
                            WHEN doc_id % 4 = 2
                            THEN 'Uses javascript heavily everywhere today.'
                                 || chr(10) || text
                            WHEN doc_id % 4 = 3
                            THEN text || ' { lorem ipsum'
                            ELSE text END AS text
                FROM documents
            ),
            cleaned AS (
                SELECT doc_id, text,
                       list_filter(string_split(coalesce(text, ''), chr(10)),
                           x -> right(x, 1) IN ('.', '!', '?', '"')
                                AND len(string_split_regex(trim(x), '\\s+'))
                                    >= 5
                                AND NOT contains(lower(x), 'javascript'))
                           AS kept,
                       string_split(coalesce(text, ''), chr(10)) AS segs
                FROM corpus
            ),
            feats AS (
                SELECT doc_id, text,
                       -- array_to_string([]) is NULL in DuckDB, '' in
                       -- Spark's array_join: normalize to ''
                       coalesce(array_to_string(kept, chr(10)), '')
                           AS clean,
                       CAST(len(kept) AS BIGINT) AS n_lines_kept,
                       CAST(len(segs) - len(kept) AS BIGINT)
                           AS n_lines_removed
                FROM cleaned
            )
            SELECT doc_id,
                   md5(CASE WHEN text IS NULL THEN NULL
                            ELSE clean END) AS clean_md5,
                   CASE WHEN text IS NULL THEN 0
                        ELSE n_lines_kept END AS n_lines_kept,
                   CASE WHEN text IS NULL THEN 0
                        ELSE n_lines_removed END AS n_lines_removed,
                   CASE WHEN text IS NULL THEN 0
                        ELSE CAST(len(regexp_extract_all(clean, '[.!?]'))
                                  AS BIGINT) END AS sentence_count,
                   coalesce(
                       CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT)
                           >= 3
                       AND NOT contains(text, '{')
                       AND NOT contains(lower(text), 'lorem ipsum'),
                       false) AS keep_doc
            FROM feats
        """,
        "gopher_quality": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 1 THEN 'short.'
                            WHEN doc_id % 7 = 2
                            THEN repeat('# ', 100) || text
                            WHEN doc_id % 7 = 3
                            THEN repeat('• item' || chr(10), 40) || text
                            WHEN doc_id % 7 = 4
                            THEN repeat('more...' || chr(10), 40) || text
                            WHEN doc_id % 7 = 5
                            THEN repeat('12345 67890 ', 60)
                            ELSE text END AS text
                FROM documents
            ),
            feat AS (
                SELECT doc_id, text,
                       list_filter(
                           string_split_regex(trim(coalesce(text, '')),
                                              '\\s+'),
                           w -> w != '') AS words,
                       list_filter(
                           list_transform(
                               string_split(coalesce(text, ''), chr(10)),
                               x -> trim(x)),
                           x -> x != '') AS lines
                FROM corpus
            ),
            m AS (
                SELECT doc_id, text,
                       len(words) AS n_words,
                       len(lines) AS n_lines,
                       CAST(coalesce(list_sum(
                           list_transform(words, w -> length(w))), 0)
                           AS BIGINT) AS sum_len,
                       length(coalesce(text, ''))
                           - length(replace(coalesce(text, ''), '#', ''))
                           AS n_hash,
                       (length(coalesce(text, ''))
                           - length(replace(coalesce(text, ''), '...', '')))
                           / 3 AS n_ellip,
                       len(list_filter(lines,
                           x -> left(x, 1) IN ('•', '-', '*'))) AS n_bullet,
                       len(list_filter(lines,
                           x -> ends_with(x, '...') OR right(x, 1) = '…'))
                           AS n_ell_end,
                       len(list_filter(words,
                           w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
                       (CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'the') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'be') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'to') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'of') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'and') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'that') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'have') AS INT)
                        + CAST(list_contains(list_transform(words,
                            w -> lower(w)), 'with') AS INT)) AS stop_hits
                FROM feat
            )
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN 0
                        ELSE CAST(n_words AS BIGINT) END AS n_words,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN n_words > 0
                        THEN CAST(sum_len AS DOUBLE)
                             / CAST(n_words AS DOUBLE)
                        END AS mean_word_len,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN n_words > 0
                        THEN CAST(n_hash + n_ellip AS DOUBLE)
                             / CAST(n_words AS DOUBLE)
                        END AS symbol_ratio,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN n_lines > 0
                        THEN CAST(n_bullet AS DOUBLE)
                             / CAST(n_lines AS DOUBLE)
                        END AS bullet_line_frac,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN n_lines > 0
                        THEN CAST(n_ell_end AS DOUBLE)
                             / CAST(n_lines AS DOUBLE)
                        END AS ellipsis_line_frac,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN n_words > 0
                        THEN CAST(n_alpha AS DOUBLE)
                             / CAST(n_words AS DOUBLE)
                        END AS alpha_word_frac,
                   CASE WHEN text IS NULL THEN 0
                        ELSE CAST(stop_hits AS INT) END AS stop_hits,
                   coalesce(
                       text IS NOT NULL
                       AND n_words BETWEEN 50 AND 100000
                       AND (CAST(sum_len AS DOUBLE)
                            / CAST(n_words AS DOUBLE)) BETWEEN 3.0 AND 10.0
                       AND (CAST(n_hash + n_ellip AS DOUBLE)
                            / CAST(n_words AS DOUBLE)) <= 0.1
                       AND coalesce(CASE WHEN n_lines > 0
                               THEN CAST(n_bullet AS DOUBLE)
                                    / CAST(n_lines AS DOUBLE) END, 0.0)
                           <= 0.9
                       AND coalesce(CASE WHEN n_lines > 0
                               THEN CAST(n_ell_end AS DOUBLE)
                                    / CAST(n_lines AS DOUBLE) END, 0.0)
                           <= 0.3
                       AND (CAST(n_alpha AS DOUBLE)
                            / CAST(n_words AS DOUBLE)) >= 0.8
                       AND stop_hits >= 2,
                       false) AS keep_doc
            FROM m
        """,
        "chunk_documents": """
            SELECT doc_id,
                   u.i AS chunk_idx,
                   u.i * 192 AS chunk_start,
                   least(u.i * 192 + 256, n_chars) AS chunk_end
            FROM documents,
                 unnest(generate_series(0,
                     CAST(CASE WHEN n_chars <= 0 THEN -1
                          ELSE ceil(greatest(n_chars - 256, 0) / 192.0)
                          END AS BIGINT))) AS u(i)
            WHERE n_chars > 0
        """,
        "term_frequencies": f"""
            WITH toks AS (
                SELECT doc_id, t AS term
                FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts FROM documents),
                     unnest(ts) AS u(t)
                WHERE t != ''
            )
            SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
            FROM toks GROUP BY term
            ORDER BY tf DESC, term LIMIT 200
        """,
        "convex_hull": """
            WITH RECURSIVE pts AS (
                SELECT DISTINCT user_id % 20 AS g,
                       (event_id * 2654435761) % 100001 - 50000 AS x,
                       (event_id * 1103515245) % 100001 - 50000 AS y
                FROM events
            ),
            st AS (
                SELECT g, x, y FROM (
                    SELECT g, x, y,
                           row_number() OVER (PARTITION BY g ORDER BY x, y)
                               AS rn
                    FROM pts
                ) WHERE rn = 1
            ),
            hull(g, pos, vx, vy) AS (
                SELECT g, 0, x, y FROM st
                UNION ALL
                SELECT h.g, h.pos + 1, p.x, p.y
                FROM hull h
                JOIN pts p ON p.g = h.g AND NOT (p.x = h.vx AND p.y = h.vy)
                JOIN st s ON s.g = h.g
                WHERE NOT (p.x = s.x AND p.y = s.y)
                  AND NOT EXISTS (
                    SELECT 1 FROM pts q
                    WHERE q.g = h.g AND NOT (q.x = h.vx AND q.y = h.vy)
                      AND ( (p.x - h.vx) * (q.y - h.vy)
                              - (p.y - h.vy) * (q.x - h.vx) < 0
                         OR ( (p.x - h.vx) * (q.y - h.vy)
                                - (p.y - h.vy) * (q.x - h.vx) = 0
                              AND (q.x - h.vx) * (q.x - h.vx)
                                    + (q.y - h.vy) * (q.y - h.vy)
                                  > (p.x - h.vx) * (p.x - h.vx)
                                    + (p.y - h.vy) * (p.y - h.vy) ) )
                  )
            )
            SELECT g, CAST(pos AS INTEGER) AS pos, vx AS x, vy AS y
            FROM hull
        """,
        "hdr_quantile_sketch": """
            WITH vals AS (
                SELECT lang, source, n_chars AS v FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0
            ),
            bk AS (
                -- p=6: s = max(0, floor(log2 v) - 6) via the minimal
                -- binary string (pure integer, no libm);
                -- bucket = s*128 + (v >> s)
                SELECT lang, source,
                       s * 128 + (v >> CAST(s AS INTEGER)) AS bucket
                FROM (SELECT lang, source, v,
                             greatest(0, length(bin(v)) - 1 - 6) AS s
                      FROM vals)
            ),
            shard AS (
                SELECT lang, source, bucket, count(*) AS cnt
                FROM bk GROUP BY 1, 2, 3
            ),
            merged AS (
                SELECT lang, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
                FROM shard GROUP BY 1, 2
            ),
            cum AS (
                SELECT lang, bucket,
                       CAST(sum(cnt) OVER (PARTITION BY lang
                                           ORDER BY bucket) AS BIGINT) AS cum,
                       CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
                FROM merged
            ),
            qv AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                  CAST(0.99 AS DOUBLE)]) AS q),
            picked AS (
                SELECT lang, q, n, min(bucket) AS bucket
                FROM cum, qv
                WHERE cum >= ceil(q * CAST(n AS DOUBLE))
                GROUP BY 1, 2, 3
            )
            SELECT lang, q,
                   ((bucket % 128 + 1) << CAST(bucket // 128 AS INTEGER))
                       - 1 AS est,
                   n
            FROM picked
        """,
        "cm_heavy_hitters": f"""
            WITH toks AS (
                SELECT doc_id, t AS term
                FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts FROM documents),
                     unnest(ts) AS u(t)
                WHERE t != ''
            ),
            rs AS (SELECT unnest([0, 1, 2, 3]) AS rw),
            probes AS (
                SELECT doc_id % 4 AS shard, rw,
                       CAST(CAST(concat('0x', substr(md5(concat('cm',
                                CAST(rw AS VARCHAR), ':', term)), 1, 15))
                            AS UBIGINT) % 2048 AS INTEGER) AS cl
                FROM toks, rs
            ),
            shard_sk AS (
                SELECT shard, rw, cl, CAST(count(*) AS BIGINT) AS cnt
                FROM probes GROUP BY 1, 2, 3
            ),
            sk AS (
                SELECT rw, cl, CAST(sum(cnt) AS BIGINT) AS cnt
                FROM shard_sk GROUP BY 1, 2
            ),
            exact AS (
                SELECT term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY 1
            ),
            cand AS (SELECT term, tf FROM exact ORDER BY tf DESC, term LIMIT 50),
            cp AS (
                SELECT cand.term, cand.tf, rs.rw,
                       CAST(CAST(concat('0x', substr(md5(concat('cm',
                                CAST(rs.rw AS VARCHAR), ':', cand.term)), 1, 15))
                            AS UBIGINT) % 2048 AS INTEGER) AS cl
                FROM cand, rs
            )
            SELECT cp.term, cp.tf,
                   CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cm_est
            FROM cp LEFT JOIN sk ON sk.rw = cp.rw AND sk.cl = cp.cl
            GROUP BY 1, 2
        """,
        "user_twap": """
            WITH seg AS (
                SELECT user_id, epoch_us(ts) AS t,
                       lead(epoch_us(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id)
                           - epoch_us(ts) AS dt,
                       CAST(floor(value * 1000000) AS BIGINT) AS v
                FROM events
            ),
            g AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                       CAST(max(t) - min(t) AS BIGINT) AS span_us,
                       sum(CASE WHEN dt IS NOT NULL
                                THEN CAST(v AS HUGEINT)
                                     * CAST(dt AS HUGEINT) END) AS num
                FROM seg GROUP BY 1
            )
            SELECT user_id, n, span_us,
                   CASE WHEN span_us > 0 THEN
                       CAST(num AS DOUBLE)
                       / (CAST(span_us AS DOUBLE) * 1000000.0)
                   END AS twap
            FROM g
        """,
        "kde_heatmap": """
            WITH pts AS (
                SELECT (event_id * 2654435761) % 100001 AS x,
                       (event_id * 1103515245) % 100001 AS y
                FROM events
            ),
            o AS (SELECT unnest([-1, 0, 1]) AS d),
            p AS (
                SELECT (x // 5000) + ox.d AS cell_x,
                       (y // 5000) + oy.d AS cell_y, x, y
                FROM pts, o ox, o oy
            ),
            c AS (
                SELECT cell_x, cell_y,
                       (2 * x - (2 * cell_x * 5000 + 5000)) AS ddx,
                       (2 * y - (2 * cell_y * 5000 + 5000)) AS ddy
                FROM p
            ),
            k AS (
                SELECT cell_x, cell_y,
                       CASE WHEN ddx * ddx + ddy * ddy <= 100000000
                            THEN CAST(100000000 - (ddx * ddx + ddy * ddy)
                                      AS HUGEINT)
                               * CAST(100000000 - (ddx * ddx + ddy * ddy)
                                      AS HUGEINT)
                            ELSE CAST(0 AS HUGEINT) END AS contrib
                FROM c
            ),
            s AS (
                SELECT cell_x, cell_y, sum(contrib) AS ks
                FROM k GROUP BY 1, 2
            )
            SELECT cell_x, cell_y,
                   CAST(ks AS DOUBLE) AS kernel_sum,
                   CAST(ks AS DOUBLE)
                       / CAST(10000000000000000 AS DOUBLE) AS kde
            FROM s WHERE ks > 0
        """,
        "snapshot_diff_docs": """
            WITH old AS (
                SELECT doc_id, lang, source, n_chars FROM documents
            ),
            nw AS (
                SELECT doc_id, lang, source,
                       CASE WHEN doc_id % 10 = 5 THEN n_chars + 7
                            ELSE n_chars END AS n_chars
                FROM documents WHERE doc_id % 10 != 3
                UNION ALL
                SELECT doc_id + 1000000, lang, source, n_chars
                FROM documents WHERE doc_id % 10 = 7
            ),
            o AS (
                SELECT doc_id, md5(concat_ws(chr(31),
                    coalesce(lang, chr(30) || 'null' || chr(30)),
                    coalesce(source, chr(30) || 'null' || chr(30)),
                    coalesce(CAST(n_chars AS VARCHAR),
                             chr(30) || 'null' || chr(30)))) AS old_fp
                FROM old
            ),
            n AS (
                SELECT doc_id, md5(concat_ws(chr(31),
                    coalesce(lang, chr(30) || 'null' || chr(30)),
                    coalesce(source, chr(30) || 'null' || chr(30)),
                    coalesce(CAST(n_chars AS VARCHAR),
                             chr(30) || 'null' || chr(30)))) AS new_fp
                FROM nw
            ),
            j AS (
                SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                       o.old_fp, n.new_fp
                FROM o FULL OUTER JOIN n
                  ON o.doc_id IS NOT DISTINCT FROM n.doc_id
            )
            SELECT doc_id,
                   CASE WHEN old_fp IS NULL THEN 'insert'
                        WHEN new_fp IS NULL THEN 'delete'
                        WHEN old_fp != new_fp THEN 'update'
                        ELSE 'unchanged' END AS change_type,
                   old_fp, new_fp
            FROM j
            WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp != new_fp
        """,
        "event_bars": """
            WITH b AS (
                SELECT event_type,
                       (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
                       epoch_us(ts) AS us, event_id, value
                FROM events
            ),
            w AS (
                SELECT *,
                       row_number() OVER (PARTITION BY event_type,
                           bucket_start ORDER BY us, event_id) AS ra,
                       row_number() OVER (PARTITION BY event_type,
                           bucket_start ORDER BY us DESC,
                           event_id DESC) AS rd
                FROM b
            ),
            ag AS (
                SELECT event_type, bucket_start,
                       CAST(count(*) AS BIGINT) AS n,
                       max(value) AS high, min(value) AS low,
                       CAST(sum(CAST(floor(value * 1000000) AS BIGINT))
                            AS BIGINT) AS sum_scaled
                FROM b GROUP BY 1, 2
            ),
            o AS (SELECT event_type, bucket_start, value AS open
                  FROM w WHERE ra = 1),
            c AS (SELECT event_type, bucket_start, value AS close
                  FROM w WHERE rd = 1)
            SELECT ag.event_type, ag.bucket_start, ag.n, o.open,
                   ag.high, ag.low, c.close, ag.sum_scaled
            FROM ag
            JOIN o ON ag.event_type = o.event_type
                  AND ag.bucket_start = o.bucket_start
            JOIN c ON ag.event_type = c.event_type
                  AND ag.bucket_start = c.bucket_start
        """,
        "event_funnel": """
            WITH ev AS (
                SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
                FROM events
            ),
            s0 AS (SELECT u, min(us) AS t0 FROM ev
                   WHERE t = 'view' GROUP BY u),
            s1 AS (
                SELECT ev.u, s0.t0, min(ev.us) AS t1
                FROM ev JOIN s0 ON ev.u = s0.u
                WHERE ev.t = 'click' AND ev.us > s0.t0
                  AND ev.us - s0.t0 <= 604800000000
                GROUP BY ev.u, s0.t0
            ),
            s2 AS (
                SELECT ev.u, s1.t0, min(ev.us) AS t2
                FROM ev JOIN s1 ON ev.u = s1.u
                WHERE ev.t = 'purchase' AND ev.us > s1.t1
                  AND ev.us - s1.t0 <= 604800000000
                GROUP BY ev.u, s1.t0
            )
            SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
                   CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
            UNION ALL
            SELECT CAST(1 AS BIGINT), 'click',
                   CAST((SELECT count(*) FROM s1) AS BIGINT)
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'purchase',
                   CAST((SELECT count(*) FROM s2) AS BIGINT)
        """,
        "warc_parse": """
            WITH src AS (
                SELECT doc_id,
                       substr(text, 1, 80) AS b1,
                       'https://h' || CAST(doc_id % 20 AS VARCHAR)
                           || '.com/p' || CAST(doc_id AS VARCHAR) AS u1,
                       'meta ' || CAST(doc_id AS VARCHAR) AS b2
                FROM documents
            )
            SELECT doc_id, CAST(0 AS BIGINT) AS record_idx,
                   'response' AS warc_type, u1 AS target_uri,
                   CAST(length(b1) AS BIGINT) AS content_length,
                   md5(b1) AS body_md5
            FROM src
            UNION ALL
            SELECT doc_id, CAST(1 AS BIGINT), 'metadata', u1,
                   CAST(length(b2) AS BIGINT), md5(b2)
            FROM src
        """,
        "value_anomaly": """
            WITH c AS (
                SELECT event_id, user_id, ts,
                       CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vfp
                FROM events WHERE value IS NOT NULL AND NOT isnan(value)
            ),
            s AS (
                SELECT event_id, user_id, vfp,
                       sum(CAST(vfp AS HUGEINT)) OVER w AS ws,
                       sum(CAST(vfp AS HUGEINT) * CAST(vfp AS HUGEINT))
                           OVER w AS wq,
                       count(*) OVER w AS wc
                FROM c
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
            ),
            z AS (
                SELECT event_id, user_id,
                       CASE WHEN wc >= 16
                             AND (CAST(wq AS DOUBLE)
                                  - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE)
                                    / CAST(wc AS DOUBLE)) / CAST(wc AS DOUBLE)
                                 > 0.0
                            THEN (CAST(vfp AS DOUBLE)
                                  - CAST(ws AS DOUBLE) / CAST(wc AS DOUBLE))
                                 / sqrt((CAST(wq AS DOUBLE)
                                         - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE)
                                           / CAST(wc AS DOUBLE))
                                        / CAST(wc AS DOUBLE))
                            END AS z
                FROM s
            )
            SELECT event_id, user_id,
                   floor(z * 1e6 + 0.5) / 1e6 AS z,
                   coalesce(abs(z) >= 2.5, false) AS is_anomaly
            FROM z
        """,
        "sitemap_entries": f"""
            WITH pages AS (
                SELECT 'https://h' || CAST(doc_id AS VARCHAR) || '.ex/sitemap.xml' AS sitemap_url,
                       '<urlset><url><loc>https://h' || CAST(doc_id AS VARCHAR)
                       || '.ex/p1</loc><lastmod>2024-01-'
                       || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       || '</lastmod><priority>0.' || CAST(doc_id % 10 AS VARCHAR)
                       || '</priority></url><url><loc> https://h' || CAST(doc_id AS VARCHAR)
                       || '.ex/p2 </loc></url>'
                       || (CASE WHEN doc_id % 7 = 0
                                THEN '<sitemap><loc>https://h' || CAST(doc_id AS VARCHAR)
                                     || '.ex/child.xml</loc></sitemap>'
                                ELSE '' END)
                       || '</urlset>' AS xml
                FROM documents
            ),
            blk AS (
                SELECT sitemap_url, b AS blk
                FROM (SELECT sitemap_url,
                             regexp_extract_all(xml,
                                 '{_RB_SITEMAP_BLOCK}', 0) AS bs
                      FROM pages),
                     unnest(bs) AS u(b)
            ),
            fields AS (
                SELECT sitemap_url,
                       nullif(regexp_extract(blk, '(?is)<loc[^>]*>\\s*(.*?)\\s*</loc>', 1), '') AS loc,
                       nullif(regexp_extract(blk, '(?is)<lastmod[^>]*>\\s*(.*?)\\s*</lastmod>', 1), '') AS lastmod,
                       nullif(regexp_extract(blk, '(?is)<changefreq[^>]*>\\s*(.*?)\\s*</changefreq>', 1), '') AS changefreq,
                       CAST(nullif(regexp_extract(blk,
                           '(?is)<priority[^>]*>\\s*([0-9]+(?:\\.[0-9]+)?)\\s*</priority>', 1), '') AS DOUBLE) AS priority,
                       lower(substr(blk, 2, 7)) = 'sitemap' AS is_index
                FROM blk
            )
            SELECT * FROM fields WHERE loc IS NOT NULL
        """,
        "crawl_schedule": """
            WITH f AS (
                SELECT 'https://h' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
                       'h' || CAST(doc_id % 25 AS VARCHAR) AS host,
                       doc_id * 7919 % 50 AS pri
                FROM documents
            )
            SELECT url, host, pri,
                   row_number() OVER (PARTITION BY host
                                      ORDER BY pri DESC NULLS LAST, url ASC)
                       AS round,
                   count(*) OVER (PARTITION BY host) AS n_queued
            FROM f
        """,
        "robots_allow": """
            WITH hosts AS (SELECT DISTINCT doc_id % 20 AS h FROM documents),
            rob AS (
                SELECT 'h' || CAST(h AS VARCHAR) || '.com' AS host,
                       CASE h % 3
                         WHEN 0 THEN 'User-agent: *' || chr(10)
                              || 'Disallow: /private' || chr(10)
                              || 'Allow: /private/ok'
                         WHEN 1 THEN 'User-agent: *' || chr(10)
                              || 'Disallow: /' || chr(10) || chr(10)
                              || 'User-agent: bot' || chr(10)
                              || 'Disallow: /beta' || chr(10)
                              || 'Allow: /beta/docs'
                         ELSE '# closed' || chr(10)
                              || 'User-agent: other' || chr(10)
                              || 'Disallow: /'
                       END AS robots_txt
                FROM hosts
            ),
            lines0 AS (
                SELECT host,
                       unnest(string_split(robots_txt, chr(10))) AS raw,
                       generate_subscripts(
                           string_split(robots_txt, chr(10)), 1) AS pos
                FROM rob
            ),
            lines AS (
                SELECT host, pos,
                       trim(regexp_replace(raw, '#.*', '')) AS line
                FROM lines0
            ),
            shaped AS (
                SELECT host, pos,
                       lower(regexp_extract(line,
                           '(?i)^user-agent:\\s*(\\S+)', 1)) AS ua,
                       lower(regexp_extract(line,
                           '(?i)^(allow|disallow):', 1)) AS rule_type,
                       regexp_extract(line,
                           '(?i)^(?:allow|disallow):\\s*(\\S*)', 1) AS path
                FROM lines
            ),
            blocks0 AS (
                SELECT *, ua != '' AS is_ua,
                       coalesce(lag(ua != '') OVER (PARTITION BY host
                                                    ORDER BY pos),
                                FALSE) AS prev_ua
                FROM shaped
            ),
            blocks AS (
                SELECT *,
                       sum(CASE WHEN is_ua AND NOT prev_ua
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY host ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS blk
                FROM blocks0
            ),
            uas AS (SELECT host, blk, ua FROM blocks WHERE is_ua),
            rul AS (
                SELECT host, blk, rule_type, path FROM blocks
                WHERE rule_type != '' AND path != ''
            ),
            grp AS (
                SELECT DISTINCT u.host, u.ua, r.rule_type, r.path
                FROM uas u JOIN rul r
                  ON u.host = r.host AND u.blk = r.blk
                WHERE u.ua IN ('bot', '*')
            ),
            spec AS (
                SELECT host,
                       max(CASE WHEN ua = 'bot' THEN 1 ELSE 0 END) AS hs
                FROM grp GROUP BY host
            ),
            rules AS (
                SELECT DISTINCT g.host, g.rule_type, g.path,
                       CAST(length(g.path) AS INTEGER) AS rule_len
                FROM grp g JOIN spec s ON g.host = s.host
                WHERE g.ua = 'bot' OR (s.hs = 0 AND g.ua = '*')
            ),
            urls AS (
                SELECT DISTINCT
                    'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.com' ||
                    CASE doc_id % 5
                      WHEN 0 THEN '/private/a' || CAST(doc_id AS VARCHAR)
                      WHEN 1 THEN '/private/ok/b'
                      WHEN 2 THEN '/beta/x'
                      WHEN 3 THEN '/beta/docs/y'
                      ELSE ''
                    END AS url
                FROM documents
            ),
            u AS (
                SELECT url,
                       nullif(lower(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
                           '') AS host,
                       coalesce(nullif(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)', 1),
                           ''), '/') AS p
                FROM urls
            ),
            m AS (
                SELECT u.url, u.host, r.rule_type, r.path,
                       row_number() OVER (
                           PARTITION BY u.url
                           ORDER BY r.rule_len DESC,
                                    (r.rule_type = 'allow') DESC,
                                    r.path DESC) AS rn
                FROM u LEFT JOIN rules r
                  ON u.host = r.host AND starts_with(u.p, r.path)
            )
            SELECT url, host,
                   coalesce(rule_type = 'allow', TRUE) AS allowed,
                   path AS rule_path
            FROM m WHERE rn = 1
        """,
        "ripley_pair_counts": """
            WITH pts AS (
                SELECT user_id % 4 AS g, event_id AS id,
                       (event_id * 2654435761) % 100001 AS x,
                       (event_id * 1103515245) % 100001 AS y
                FROM events
            ),
            rr AS (SELECT unnest([500, 2000, 10000]) AS r),
            pairs AS (
                SELECT a.g,
                       (a.x - b.x) * (a.x - b.x)
                       + (a.y - b.y) * (a.y - b.y) AS d2
                FROM pts a JOIN pts b ON a.g = b.g AND a.id < b.id
            ),
            cnt AS (
                SELECT g, r,
                       CAST(sum(CASE WHEN d2 <= CAST(r AS BIGINT) * r
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
                FROM pairs, rr GROUP BY 1, 2
            ),
            np AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_points
                FROM pts GROUP BY 1
            )
            SELECT cnt.g, CAST(cnt.r AS BIGINT) AS r, cnt.n_pairs,
                   np.n_points,
                   CASE WHEN np.n_points >= 2 THEN
                       ((CAST(10000200001 AS DOUBLE) * 2.0)
                        * CAST(cnt.n_pairs AS DOUBLE))
                       / (CAST(np.n_points AS DOUBLE)
                          * (CAST(np.n_points AS DOUBLE) - 1.0))
                   END AS k_hat
            FROM cnt JOIN np ON cnt.g = np.g
        """,
        "bloom_membership": f"""
            WITH toks AS (
                SELECT doc_id, t AS term
                FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts FROM documents),
                     unnest(ts) AS u(t)
                WHERE t != ''
            ),
            rs AS (SELECT unnest([0, 1, 2, 3]) AS rw),
            -- 256 words * 63 bits = 16128; bit 63 stays clear (signed
            -- shift bound), matching operators/sketches.BLOOM_WORD_BITS
            bits AS (
                SELECT doc_id % 4 AS shard,
                       CAST(CAST(concat('0x', substr(md5(concat('bf',
                                CAST(rw AS VARCHAR), ':', term)), 1, 15))
                            AS UBIGINT) % 16128 AS BIGINT) AS bit
                FROM toks, rs
            ),
            shard_sk AS (
                SELECT shard, bit // 63 AS word,
                       bit_or(CAST(1 AS BIGINT)
                              << CAST(bit % 63 AS INTEGER)) AS bits
                FROM bits GROUP BY 1, 2
            ),
            sk AS (SELECT word, bit_or(bits) AS bits FROM shard_sk GROUP BY 1),
            exact AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
            present AS (
                SELECT term, TRUE AS expected_present
                FROM exact ORDER BY tf DESC, term LIMIT 100
            ),
            absent AS (
                SELECT 'absent-' || CAST(doc_id AS VARCHAR) AS term,
                       FALSE AS expected_present
                FROM documents WHERE doc_id < 50
            ),
            cand AS (
                SELECT * FROM present UNION ALL SELECT * FROM absent
            ),
            cp AS (
                SELECT cand.term, cand.expected_present,
                       CAST(CAST(concat('0x', substr(md5(concat('bf',
                                CAST(rs.rw AS VARCHAR), ':', cand.term)),
                                1, 15))
                            AS UBIGINT) % 16128 AS BIGINT) AS bit
                FROM cand, rs
            )
            SELECT cp.term, cp.expected_present,
                   bool_and(
                       (COALESCE(sk.bits, 0)
                        & (CAST(1 AS BIGINT) << CAST(cp.bit % 63 AS INTEGER)))
                       = (CAST(1 AS BIGINT) << CAST(cp.bit % 63 AS INTEGER))
                   ) AS maybe_present
            FROM cp LEFT JOIN sk ON sk.word = cp.bit // 63
            GROUP BY 1, 2
        """,
        "bpe_merges": _bpe_oracle_sql(),
        "lm_xent_score": f"""
            WITH toks AS (
                SELECT doc_id, t AS term
                FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts FROM documents),
                     unnest(ts) AS u(t)
                WHERE t != ''
            ),
            dt AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            model AS (SELECT term, sum(tf) AS c FROM dt GROUP BY term),
            m AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM model),
            fp AS (
                SELECT term,
                       CAST(floor(ln((CAST(c AS DOUBLE) + 1.0)
                                     / (CAST(n AS DOUBLE)
                                        + 1.0 * CAST(v AS DOUBLE)))
                                  * 1e9 + 0.5) AS BIGINT) AS lp_fp
                FROM model, m
            ),
            s AS (
                SELECT dt.doc_id,
                       CAST(sum(dt.tf) AS BIGINT) AS n_tokens,
                       sum(CAST(dt.tf * fp.lp_fp AS DECIMAL(38,0))) AS sfp
                FROM dt JOIN fp USING (term)
                GROUP BY dt.doc_id
            )
            SELECT doc_id, n_tokens,
                   floor(((0.0 - CAST(sfp AS DOUBLE) / 1e9)
                          / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
                       AS xent
            FROM s
        """,
        "bm25_topk": f"""
            WITH toks AS (
                SELECT doc_id, t AS term
                FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts FROM documents),
                     unnest(ts) AS u(t)
                WHERE t != ''
            ),
            dt AS (SELECT doc_id, term, count(*) AS tf_dt FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(tf_dt) AS dl FROM dt GROUP BY 1),
            g AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
            qt AS (SELECT * FROM dt
                   WHERE term IN ('hash', 'join', 'vector', 'broadcast')),
            dfq AS (SELECT term, count(*) AS dft FROM qt GROUP BY 1),
            sc AS (
                SELECT qt.doc_id,
                       ln((CAST(n AS DOUBLE) - CAST(dft AS DOUBLE) + 0.5)
                          / (CAST(dft AS DOUBLE) + 0.5) + 1.0)
                       * CAST(tf_dt AS DOUBLE)
                       / (CAST(tf_dt AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                   / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))
                       AS contrib
                FROM qt JOIN dfq ON qt.term = dfq.term
                JOIN dl ON qt.doc_id = dl.doc_id, g
            ),
            scores AS (
                SELECT doc_id, count(*) AS n_terms, sum(contrib) AS score
                FROM sc GROUP BY 1
            ),
            top AS (
                SELECT doc_id, n_terms, score
                FROM scores ORDER BY score DESC, doc_id LIMIT 25
            )
            SELECT doc_id, n_terms, round(score, 6) AS score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM top
        """,
        "overlay_rule_max": """
            WITH base AS (
                SELECT r1.range AS ix, r2.range AS iy,
                       r1.range * 5000.0 AS x, r2.range * 5000.0 AS y,
                       CAST(r1.range + r2.range * 20 + 1 AS DOUBLE) AS val
                FROM range(0, 20) r1, range(0, 20) r2
            ),
            off AS (
                SELECT r1.range + r2.range * 19 AS cell_id,
                       1000.0 + r1.range * 5000.0 AS x, 2000.0 + r2.range * 5000.0 AS y
                FROM range(0, 19) r1, range(0, 19) r2
            ),
            pieces AS (
                SELECT o.cell_id, b.val,
                       b.ix + b.iy * 20 AS poly_id,
                       greatest(0, least(o.x + 5000.0, b.x + 5000.0) - greatest(o.x, b.x))
                     * greatest(0, least(o.y + 5000.0, b.y + 5000.0) - greatest(o.y, b.y)) AS piece
                FROM off o JOIN base b
                  ON b.x < o.x + 5000.0 AND b.x + 5000.0 > o.x
                 AND b.y < o.y + 5000.0 AND b.y + 5000.0 > o.y
            ),
            ranked AS (
                SELECT cell_id, val, piece,
                       row_number() OVER (
                           PARTITION BY cell_id
                           ORDER BY piece / 25000000.0 DESC, poly_id ASC
                       ) AS rn
                FROM pieces WHERE piece > 0
            )
            SELECT cell_id, val, round(piece, 6) AS piece_area,
                   round(piece / 25000000.0, 9) AS area_pct
            FROM ranked WHERE rn = 1
        """,
        "cell_index_morton": f"""
            {geo_cte},
            cells AS (
                SELECT doc_id,
                       greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 256.0) AS BIGINT), 255)) AS cell_ix,
                       greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 256.0) AS BIGINT), 255)) AS cell_iy
                FROM pts
            )
            SELECT doc_id, cell_ix, cell_iy,
                   ({_spread_sql('cell_ix')} | ({_spread_sql('cell_iy')} << 1)) AS cell_id
            FROM cells
        """,
        "cell_index_morton_z20": f"""
            {geo_cte},
            cells AS (
                SELECT doc_id,
                       greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 1048576.0) AS BIGINT), 1048575)) AS cell_ix,
                       greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 1048576.0) AS BIGINT), 1048575)) AS cell_iy
                FROM pts
            )
            SELECT doc_id, cell_ix, cell_iy,
                   ({_spread_sql('cell_ix')} | ({_spread_sql('cell_iy')} << 1)) AS cell_id
            FROM cells
        """,
        "geohash_encode": f"""
            {geo_cte},
            cells AS (
                SELECT doc_id,
                       greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 262144.0) AS BIGINT), 262143)) AS ix7,
                       greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 131072.0) AS BIGINT), 131071)) AS iy7,
                       greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT), 32767)) AS ix6,
                       greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 32768.0) AS BIGINT), 32767)) AS iy6
                FROM pts
            ),
            codes AS (
                SELECT doc_id,
                       ({_spread_sql('ix7')} | ({_spread_sql('iy7')} << 1)) AS c7,
                       (({_spread_sql('ix6')} << 1) | {_spread_sql('iy6')}) AS c6
                FROM cells
            ),
            dec AS (
                SELECT doc_id, c7, c6,
                       CAST(sum(((c7 >> (2 * k)) & 1) << k) AS BIGINT) AS dix7,
                       CAST(sum(((c7 >> (2 * k + 1)) & 1) << k) AS BIGINT) AS diy7
                FROM codes CROSS JOIN (SELECT k FROM range(0, 18) t(k))
                GROUP BY doc_id, c7, c6
            )
            SELECT doc_id,
                   {_geohash_chars_sql('c7', 7)} AS gh7,
                   {_geohash_chars_sql('c6', 6)} AS gh6,
                   (CAST(dix7 AS DOUBLE) + 0.5) / 262144.0 * 360.0 - 180.0 AS dlon7,
                   (CAST(diy7 AS DOUBLE) + 0.5) / 131072.0 * 180.0 - 90.0 AS dlat7
            FROM dec
        """,
        "geohash_neighbors": f"""
            {geo_cte},
            cells AS (
                SELECT doc_id,
                       greatest(0, least(CAST(floor((lon + 180.0) / 360.0 * 262144.0) AS BIGINT), 262143)) AS ix7,
                       greatest(0, least(CAST(floor((lat + 90.0) / 180.0 * 131072.0) AS BIGINT), 131071)) AS iy7
                FROM pts
            ),
            nb AS (
                SELECT doc_id, o.k AS k,
                       (ix7 + o.dx + 262144) % 262144 AS nix,
                       iy7 + o.dy AS niy
                FROM cells CROSS JOIN (VALUES (0, -1, 0), (1, 1, 0), (2, 0, -1), (3, 0, 1),
                                              (4, -1, -1), (5, -1, 1), (6, 1, -1), (7, 1, 1))
                                      AS o(k, dx, dy)
                WHERE iy7 + o.dy BETWEEN 0 AND 131071
            ),
            ncodes AS (
                SELECT doc_id, k,
                       ({_spread_sql('nix')} | ({_spread_sql('niy')} << 1)) AS nc
                FROM nb
            )
            SELECT doc_id, CAST(k AS BIGINT) AS k,
                   {_geohash_chars_sql('nc', 7)} AS ngh
            FROM ncodes
        """,
        "geodesic_point_buffer": _geodesic_buffer_oracle_sql(geo_cte),
        "user_travel_distance": _travel_oracle_sql(),
        "contact_pairs": _contact_pairs_oracle_sql(),
        "stay_points": _stay_points_oracle_sql(),
        "od_flows": _od_flows_oracle_sql(),
        "simplify_trajectory": _simplify_oracle_sql(),
        "idw_interpolation": _idw_oracle_sql(),
        "asof_enrich": """
            WITH l AS (
                SELECT user_id, event_id, ts FROM events WHERE event_id % 7 != 0
            ),
            r AS (
                SELECT user_id, ts, event_id AS ref_id FROM events
                WHERE event_id % 7 = 0
            ),
            m AS (
                SELECT l.user_id, l.event_id, l.ts AS lts, r.ts AS rts, r.ref_id,
                       CAST(floor(epoch(l.ts)) AS BIGINT)
                         - CAST(floor(epoch(r.ts)) AS BIGINT) AS age_s
                FROM l ASOF LEFT JOIN r
                  ON l.user_id = r.user_id AND l.ts >= r.ts
            )
            SELECT user_id, event_id,
                   CAST(floor(epoch(lts)) AS BIGINT) AS ts_epoch,
                   CASE WHEN age_s >= 0 AND age_s <= 604800 THEN ref_id END AS ref_id,
                   CASE WHEN age_s >= 0 AND age_s <= 604800
                        THEN CAST(floor(epoch(rts)) AS BIGINT) END AS ref_ts_epoch,
                   CASE WHEN age_s >= 0 AND age_s <= 604800 THEN age_s END AS age_s
            FROM m
        """,
        "interval_overlap": """
            WITH l AS (
                SELECT event_id AS lid, user_id % 3 AS k,
                       (event_id * 2654435761) % 1000000 AS l_start,
                       (event_id * 2654435761) % 1000000
                           + 1 + event_id % 900 AS l_end
                FROM events WHERE event_id % 17 = 0
            ),
            r AS (
                SELECT event_id AS rid, user_id % 3 AS k,
                       (event_id * 2246822519) % 1000000 AS r_start,
                       (event_id * 2246822519) % 1000000
                           + 1 + event_id % 700 AS r_end
                FROM events WHERE event_id % 19 = 1
            )
            SELECT lid, rid, l.k AS k, l_start, l_end, r_start, r_end,
                   least(l_end, r_end) - greatest(l_start, r_start)
                       AS overlap_len
            FROM l JOIN r
              ON l.k = r.k AND l_start <= r_end AND r_start <= l_end
        """,
        "s2_compact_cells": """
            WITH cells AS (
                SELECT DISTINCT compact FROM (
                    SELECT 131072 + (event_id % 1024) AS compact FROM events
                    UNION ALL
                    SELECT 131072 + 1024 + (event_id * 7919) % 60000 AS compact
                    FROM events WHERE event_id % 5 = 0
                )
            ),
            lv AS (SELECT range AS lvl FROM range(0, 9)),
            cand AS (
                SELECT c.compact, l.lvl,
                       c.compact >> CAST(2 * (8 - l.lvl) AS INTEGER) AS anc
                FROM cells c, lv l
            ),
            complete AS (
                SELECT lvl, anc FROM cand GROUP BY lvl, anc
                HAVING count(*) = (CAST(1 AS BIGINT) << CAST(2 * (8 - lvl) AS INTEGER))
            ),
            best AS (
                SELECT cand.compact AS c, min(cand.lvl) AS level
                FROM cand JOIN complete
                  ON cand.lvl = complete.lvl AND cand.anc = complete.anc
                GROUP BY 1
            )
            SELECT DISTINCT level,
                   c >> CAST(2 * (8 - level) AS INTEGER) AS compact
            FROM best
        """,
        "raster_point_sample": """
            WITH pts AS (
                SELECT event_id,
                       CAST(floor((event_id % 640) / 10.0) AS BIGINT) AS col,
                       47 - CAST(floor((user_id % 480) / 10.0) AS BIGINT) AS row
                FROM events
            )
            SELECT event_id,
                   CASE WHEN (col + row * 64) % 7 = 0 THEN NULL
                        ELSE CAST(col + row * 64 AS DOUBLE) END AS band1
            FROM pts
        """,
        # Round 3: the formerly rows-only LSH family is oracle-gated via
        # fixture twins (fixtures/gen_oracle_fixtures.py writes per-doc /
        # per-vector signatures computed by an INDEPENDENT implementation,
        # keyed by (id, md5-of-content) so each SF self-selects its rows);
        # banding / blocking / verification run entirely in DuckDB SQL.
        "minhash_lsh_pairs": """
            WITH fx AS (
                SELECT f.doc_id, f.signature, f.shingles
                FROM read_parquet('/root/repo/fixtures/minhash_docs.parquet') f
                JOIN documents d ON (f.doc_id = d.doc_id OR f.doc_id = d.doc_id + 1000000)
                                AND f.text_md5 = md5(d.text)
            ),
            banded AS (
                SELECT doc_id, r.b AS band, signature[r.b*4+1 : r.b*4+4] AS bkey
                FROM fx, range(0,16) r(b)
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT c.doc_a, c.doc_b,
                       CAST(len(list_intersect(fa.shingles, fb.shingles)) AS DOUBLE)
                       / len(list_distinct(list_concat(fa.shingles, fb.shingles))) AS jaccard
                FROM cand c
                JOIN fx fa ON fa.doc_id = c.doc_a
                JOIN fx fb ON fb.doc_id = c.doc_b
            ) WHERE jaccard >= 0.5
        """,
        "shingle_containment": f"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id,
                       concat('intro prefix words here ', text,
                              ' closing remark tail words') AS text
                FROM documents WHERE doc_id % 9 = 0
            ),
            norm AS (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM corpus
            ),
            sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, len(t)-2),
                                     i -> concat(t[i],' ',t[i+1],' ',t[i+2]))) AS s
                FROM norm
            ),
            postings AS (SELECT doc_id, g FROM sh, unnest(s) AS u(g)),
            sizes AS (SELECT doc_id, count(*) AS n FROM postings GROUP BY doc_id),
            capped AS (
                SELECT * FROM postings
                WHERE g NOT IN (SELECT g FROM postings GROUP BY g HAVING count(*) > 12)
            ),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
                FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT p.doc_a, p.doc_b,
                   CAST(p.overlap AS BIGINT) AS overlap,
                   CAST(sa.n AS BIGINT) AS size_a,
                   CAST(sb.n AS BIGINT) AS size_b,
                   CAST(p.overlap AS DOUBLE) / sa.n AS containment_a,
                   CAST(p.overlap AS DOUBLE) / sb.n AS containment_b
            FROM pairs p JOIN sizes sa ON p.doc_a = sa.doc_id
                         JOIN sizes sb ON p.doc_b = sb.doc_id
            WHERE greatest(CAST(p.overlap AS DOUBLE) / sa.n,
                           CAST(p.overlap AS DOUBLE) / sb.n) >= 0.5
        """,
        "simhash_near_dup": """
            WITH fx AS (
                SELECT f.doc_id, f.simhash, f.c0, f.c1, f.c2, f.c3
                FROM read_parquet('/root/repo/fixtures/simhash_docs.parquet') f
                JOIN documents d ON f.doc_id = d.doc_id AND f.text_md5 = md5(d.text)
            ),
            alld AS (
                SELECT doc_id, simhash, c0, c1, c2, c3 FROM fx
                UNION ALL
                SELECT doc_id + 1000000, simhash, c0, c1, c2, c3 FROM fx WHERE doc_id % 9 = 0
            ),
            chunked AS (
                SELECT doc_id, simhash, r.i AS chunk_idx,
                       CASE r.i WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS chunk
                FROM alld, range(0,4) r(i)
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS ha,
                                b.doc_id AS doc_b, b.simhash AS hb
                FROM chunked a JOIN chunked b
                  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        """,
        "ann_cosine_topk_lsh": """
            WITH fx AS (
                SELECT f.vec_id, f.signature
                FROM read_parquet('/root/repo/fixtures/hyperplane_sigs.parquet') f
                JOIN embeddings e ON f.vec_id = e.vec_id
                                 AND f.emb_md5 = md5(CAST(e.embedding AS VARCHAR))
            ),
            qs AS (SELECT vec_id AS query_id, signature FROM fx WHERE vec_id < 5),
            probes AS (
                SELECT query_id, xor(signature, m.m) AS psig
                FROM qs, (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128),(256),(512)) m(m)
            ),
            cand AS (
                SELECT DISTINCT p.query_id, c.vec_id
                FROM probes p JOIN fx c ON c.signature = p.psig
            ),
            scored AS (
                SELECT cand.query_id, cand.vec_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos
                FROM cand
                JOIN embeddings q ON q.vec_id = cand.query_id
                JOIN embeddings e ON e.vec_id = cand.vec_id
            )
            SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10
        """,
        "ann_cosine_topk_ivf": """
            WITH qs AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, c.vec_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM qs q CROSS JOIN embeddings c
            )
            SELECT query_id, vec_id, round(cos, 6) AS cosine, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                ) AS rank FROM scored
            ) WHERE rank <= 10
        """,
        # cosine_topk_ivf in the driver query probes every list, so it is
        # exact by construction and the brute-force SQL gates the full
        # train->assign->probe->score plumbing; nprobe<nlist recall is
        # pinned vs brute force in pytest.
        "multimodal_featurize": _multimodal_oracle_sql(),
    }
