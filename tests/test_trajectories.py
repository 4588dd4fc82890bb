"""functions/geodesy.py + operators/trajectories.py: haversine vs the
independent xyz-chord kernel, bearing anchors, destination roundtrip, and
the per-entity travel rollup against a scalar twin."""

import math
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from pygridmap_spark.core import sphere as SPH
from pygridmap_spark.functions import geodesy as GD
from pygridmap_spark.operators import trajectories as TJ

R_M = SPH.EARTH_RADIUS_KM * 1000.0


def _py_gc_m(lon1, lat1, lon2, lat2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    a = (
        math.sin((p2 - p1) / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin((math.radians(lon2) - math.radians(lon1)) / 2) ** 2
    )
    return 2.0 * R_M * math.asin(min(1.0, math.sqrt(a)))


def test_gc_distance_matches_xyz_arc_kernel(spark):
    # independent check: haversine (Catalyst) vs chord->angle on unit
    # vectors (core/sphere.arc_lengths, the kernel the kNN family uses)
    pairs = [
        (i, -170.0 + i * 23.7 % 340, -80.0 + i * 11.3 % 160,
         -170.0 + i * 51.1 % 340, -80.0 + i * 7.9 % 160)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        pairs, "id long, lon1 double, lat1 double, lon2 double, lat2 double"
    )
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", GD.gc_distance_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")
        ).collect()
    }
    for i, lon1, lat1, lon2, lat2 in pairs:
        a = SPH.lonlat_to_xyz(np.array([lon1]), np.array([lat1]))
        b = SPH.lonlat_to_xyz(np.array([lon2]), np.array([lat2]))
        want = SPH.arc_lengths(a, b)[0] * R_M
        assert abs(got[i] - want) <= max(1e-6 * want, 1e-4), (i, got[i], want)


def test_bearing_anchors(spark):
    rows = [(1, 0.0, 0.0, 10.0, 0.0), (2, 0.0, 0.0, 0.0, 10.0),
            (3, 0.0, 0.0, -10.0, 0.0), (4, 0.0, 0.0, 0.0, -10.0)]
    df = spark.createDataFrame(rows, "id long, lon1 double, lat1 double, lon2 double, lat2 double")
    got = {
        r["id"]: r["b"]
        for r in df.select(
            "id", GD.initial_bearing_deg(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("b")
        ).collect()
    }
    assert abs(got[1] - 90.0) < 1e-9   # due east
    assert abs(got[2] - 0.0) < 1e-9    # due north
    assert abs(got[3] - 270.0) < 1e-9  # due west
    assert abs(got[4] - 180.0) < 1e-9  # due south


def test_destination_roundtrip(spark):
    df = spark.createDataFrame(
        [(i, -150.0 + i * 37.0, -60.0 + i * 13.0, i * 40.0 % 360) for i in range(8)],
        "id long, lon double, lat double, brg double",
    )
    lon2, lat2 = GD.destination(F.col("lon"), F.col("lat"), F.col("brg"), 750_000.0)
    out = df.withColumns({"lon2": lon2, "lat2": lat2}).withColumn(
        "back_d", GD.gc_distance_m(F.col("lon"), F.col("lat"), F.col("lon2"), F.col("lat2"))
    ).collect()
    for r in out:
        assert abs(r["back_d"] - 750_000.0) < 1e-3, r["id"]
        assert -180.0 <= r["lon2"] < 180.0


def test_travel_stats_vs_scalar_twin(spark):
    t0 = datetime(2024, 1, 1)
    rows, expect = [], {}
    for u in range(5):
        pings = [
            (-100.0 + (u * 31 + k * 7.3) % 200, -70.0 + (u * 17 + k * 5.1) % 140)
            for k in range(u + 1)
        ]
        for k, (lo, la) in enumerate(pings):
            rows.append((u * 100 + k, u, t0 + timedelta(minutes=k), lo, la))
        hops = [
            round(_py_gc_m(pings[k - 1][0], pings[k - 1][1], pings[k][0], pings[k][1]), 3)
            for k in range(1, len(pings))
        ]
        expect[u] = (len(pings), len(hops), sum(hops), max(hops) if hops else None)
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, lon double, lat double")
    got = {
        r["user_id"]: (r["n_pings"], r["n_hops"], r["travel_m"], r["max_hop_m"])
        for r in TJ.travel_stats(df, tiebreak="event_id").collect()
    }
    assert set(got) == set(expect)
    for u, (np_, nh, tot, mx) in expect.items():
        g = got[u]
        assert g[0] == np_ and g[1] == nh
        assert abs(g[2] - tot) < 1e-6
        assert (g[3] is None and mx is None) or abs(g[3] - mx) < 1e-9


def test_travel_stats_single_exchange(spark):
    df = spark.createDataFrame(
        [(1, 1, datetime(2024, 1, 1), 0.0, 0.0)],
        "event_id long, user_id long, ts timestamp, lon double, lat double",
    )
    plan = TJ.travel_stats(df, tiebreak="event_id")._jdf.queryExecution().optimizedPlan().toString()
    # the window shuffle is the ONLY repartitioning; the agg reuses it
    ex = TJ.travel_stats(df, tiebreak="event_id")._jdf.queryExecution().executedPlan().toString()
    assert ex.count("Exchange") <= 2  # window hash + (possibly reused) agg
    assert "pythonUDF" not in plan and "BatchEvalPython" not in ex


def test_nan_coordinate_propagates_not_antipode(spark):
    # review finding: NaN coords must yield NaN/absent distance, never a
    # fabricated pi*R ~ 20,015 km hop (NaN compares greater than 1.0)
    df = spark.createDataFrame(
        [(1, float("nan"), 0.0, 10.0, 0.0), (2, 5.0, 5.0, 10.0, 5.0)],
        "id long, lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", GD.gc_distance_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")
        ).collect()
    }
    assert math.isnan(got[1])
    assert 0 < got[2] < 1e6


def test_destination_at_pole_no_nan(spark):
    # landing exactly on the pole rounds sin_lat2 to 1+ulp
    df = spark.createDataFrame([(1, 0.0, 89.0)], "id long, lon double, lat double")
    d_m = math.radians(1.0) * R_M  # exactly reaches the pole
    lon2, lat2 = GD.destination(F.col("lon"), F.col("lat"), F.lit(0.0), d_m)
    r = df.withColumns({"lon2": lon2, "lat2": lat2}).collect()[0]
    assert not math.isnan(r["lat2"]) and abs(r["lat2"] - 90.0) < 1e-6


def test_contact_chord_gate_keeps_sub_metre_boundary_pairs(spark):
    """At a 0.5 m radius the squared-chord pre-filter keeps every pair the
    haversine keeps. Each pair sits within 1e-9 relative of the radius,
    where the xyz rounding alone moves the squared chord by a few 1e-9."""
    rng = np.random.default_rng(5)
    n, radius = 400, 0.5
    lat = rng.uniform(-60.0, 60.0, n)
    lon = rng.uniform(-170.0, 170.0, n)
    bearing = rng.uniform(0.0, 2.0 * math.pi, n)
    d = radius * (1.0 + rng.uniform(-1e-9, 1e-9, n))
    lat2 = lat + np.degrees(d * np.cos(bearing) / R_M)
    lon2 = lon + np.degrees(d * np.sin(bearing) / (R_M * np.cos(np.radians(lat))))
    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append((2 * i, 2 * i, t0, float(lon[i]), float(lat[i])))
        rows.append((2 * i + 1, 2 * i + 1, t0, float(lon2[i]), float(lat2[i])))
    pings = spark.createDataFrame(rows, "ping_id long, user_id long, ts timestamp, lon double, lat double")
    a, b = pings.alias("a"), pings.alias("b")
    want = {
        (r[0], r[1])
        for r in a.join(b, F.col("a.ping_id") + 1 == F.col("b.ping_id"))
        .filter(F.col("a.ping_id") % 2 == 0)
        .filter(GD.gc_distance_m(F.col("a.lon"), F.col("a.lat"), F.col("b.lon"), F.col("b.lat")) <= radius)
        .select("a.ping_id", "b.ping_id")
        .collect()
    }
    got = {(r["ping_a"], r["ping_b"]) for r in TJ.contact_events(pings, radius, 60.0).collect()}
    assert 0 < len(want) < n
    assert got == want
