"""Trajectory statistics over timestamped point streams (pings, check-ins,
request logs with geolocation): per-entity great-circle travel distance,
hop lengths, speeds.

Shape at scale: ONE exchange — the window shuffle on the entity key (the
same partitioning a downstream per-entity rollup reuses); every hop metric
is pure Catalyst trig on lag() columns (functions/geodesy.py), and the
rollup is a partial-aggregated hash agg on the already-co-located key, so
the whole operator is window-shuffle + map-side math at any corpus size.
Hop sums accumulate as DECIMAL(38,3) of mm-rounded meters (exact, order-
independent — the repo-wide invariant for cross-engine sums), cast to
double at the end.

Reference parity: pygridmap has no temporal ops (grids are static); this is
the moving-points member of the engine's webtext family — the same lag
pattern as streaming sessionization (streaming/pipeline.py) applied to
space instead of gaps.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pygridmap_spark.functions import geodesy as GD


def with_hop_distance(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    tiebreak: str | None = None,
    out_col: str = "hop_m",
) -> DataFrame:
    """Append the great-circle distance (meters) from each row's
    predecessor in (``entity_col`` partition, ``ts_col`` order) — null on
    each entity's first ping. ``tiebreak`` adds a second ordering column
    so equal timestamps stay deterministic (pass the event id)."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    plon, plat = F.lag(lon).over(w), F.lag(lat).over(w)
    return df.withColumn(
        out_col, GD.gc_distance_m(plon, plat, F.col(lon), F.col(lat))
    )


def _exact_m(hop: Column) -> Column:
    # mm-rounded exact accumulator: order-independent across engines
    return F.round(hop, 3).cast("decimal(38,3)")


def travel_stats(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity trajectory rollup: ``n_pings``, ``n_hops``,
    ``travel_m`` (exact mm-rounded sum), ``max_hop_m``. One window
    shuffle; the agg rides the window's co-partitioning."""
    hops = with_hop_distance(df, entity_col, ts_col, lon, lat, tiebreak)
    return hops.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.count("hop_m").alias("n_hops"),
        F.coalesce(F.sum(_exact_m(F.col("hop_m"))), F.lit(0).cast("decimal(38,3)"))
        .cast("double")
        .alias("travel_m"),
        F.max(F.round(F.col("hop_m"), 3)).alias("max_hop_m"),
    )


def stay_points(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    radius_m: float = 200.0,
    max_gap_s: int = 3600,
    min_dwell_s: int = 900,
    tiebreak: str | None = None,
) -> DataFrame:
    """Stay-point / dwell detection: maximal runs of consecutive pings
    where every hop stays within ``radius_m`` and no time gap exceeds
    ``max_gap_s``, kept when the run spans at least ``min_dwell_s``.
    Returns per (entity, seg_id): ``n_pings, t_start, t_end, dwell_s,
    ctr_lon, ctr_lat`` (the centroid via exact micro-degree-rounded
    decimal sums — the repo-wide cross-engine invariant).

    This is the successive-hop variant of the classic stay-point scan
    (Li et al. 2008, "Mining user similarity based on location history" —
    public; their anchor-distance variant is order-sequential and
    anti-Spark): a segment breaks on the FIRST ping that moved more than
    the radius since the previous one. For dwell detection at sensible
    ping rates the two agree; the hop form is one lag + one running sum
    in the SAME entity/ts window the hop distance already shuffled for —
    so the whole operator is still exactly ONE exchange at any scale,
    and the per-segment rollup rides the window's co-partitioning.

    Rows with NULL/NaN coordinates produce NULL hops, which BREAK the
    segment (a blind spot is not evidence of staying); filter them
    upstream if they should be transparent. seg_id numbers every raw
    segment 1..k per entity — gaps in the surviving ids reveal discarded
    travel segments, deliberately.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    hops = with_hop_distance(df, entity_col, ts_col, lon, lat, tiebreak)
    gap_s = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(
        F.lag(ts_col).over(w)
    )
    is_break = (
        F.col("hop_m").isNull()
        | (F.col("hop_m") > F.lit(float(radius_m)))
        | (gap_s > F.lit(int(max_gap_s)))
    )
    segd = hops.withColumn(
        "seg_id", F.sum(F.when(is_break, 1).otherwise(0)).over(w)
    )
    dec6 = lambda c: F.round(F.col(c), 6).cast("decimal(21,6)")  # noqa: E731
    out = segd.groupBy(entity_col, "seg_id").agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.min(ts_col).alias("t_start"),
        F.max(ts_col).alias("t_end"),
        F.sum(dec6(lon)).alias("__slon__"),
        F.sum(dec6(lat)).alias("__slat__"),
    )
    dwell = F.unix_timestamp(F.col("t_end")) - F.unix_timestamp(F.col("t_start"))
    return (
        out.withColumn("dwell_s", dwell)
        .filter(F.col("dwell_s") >= F.lit(int(min_dwell_s)))
        .select(
            entity_col,
            "seg_id",
            "n_pings",
            "t_start",
            "t_end",
            "dwell_s",
            (F.col("__slon__").cast("double") / F.col("n_pings")).alias("ctr_lon"),
            (F.col("__slat__").cast("double") / F.col("n_pings")).alias("ctr_lat"),
        )
    )


def _dp_keep_mask(xs, ys, tol2):
    """Iterative Douglas-Peucker keep-mask over an ordered polyline.

    Exact-twin contract (the oracle restates this in a DuckDB recursive
    CTE): squared planar point-to-SEGMENT distance with the expression
    tree `t = ((px-ax)*dx + (py-ay)*dy)/L2`, clamped to [0,1], residual
    `(px-(ax+t*dx))^2 + (py-(ay+t*dy))^2` — every operation in the same
    order on both engines so near-threshold splits can't diverge by a
    ULP. Ties at the max deviation split at the EARLIEST point
    (np.argmax == ORDER BY d DESC, idx). Split when d2 > tol2 (strict)."""
    import numpy as np

    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay, bx, by = xs[i], ys[i], xs[j], ys[j]
        px, py = xs[i + 1 : j], ys[i + 1 : j]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        if L2 == 0.0:
            rx, ry = px - ax, py - ay
        else:
            t = ((px - ax) * dx + (py - ay) * dy) / L2
            t = np.minimum(1.0, np.maximum(0.0, t))
            rx, ry = px - (ax + t * dx), py - (ay + t * dy)
        d2 = rx * rx + ry * ry
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            k += i + 1
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def simplify_trajectory(
    df: DataFrame,
    tolerance: float,
    entity_col: str | list[str] = "user_id",
    ts_col: str = "ts",
    x: str = "lon",
    y: str = "lat",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity Douglas-Peucker polyline simplification: keep the
    subset of each entity's pings (ordered by ``ts_col``) whose polyline
    stays within ``tolerance`` of the original everywhere — the classic
    trajectory-compression pass before storage or map rendering.
    ``entity_col`` may be a list for composite polyline keys (e.g.
    ``["poly_id", "ring"]`` — the vertex-rows path under
    operators/simplify.simplify_wkb). Returns
    the KEPT original rows, all columns intact (a per-group filter).

    Distance is planar Euclidean point-to-segment in coordinate units:
    reproject first (``functions.reproject``) when metric fidelity
    matters; in raw degrees the tolerance is anisotropic away from the
    equator — fine for rendering-grade compression, documented here so
    nobody mistakes it for geodesic. Ties at the max deviation split at
    the earliest point; first and last pings are always kept; a
    single-ping entity survives.

    NULL/NaN coordinates RAISE (fail closed, the engine's ANSI-mode
    posture): a blind spot inside a polyline is not evidence the path
    was straight, so the caller must segment or filter upstream
    (``stay_points`` breaks on them for the same reason).

    Scale shape: exactly ONE exchange — the entity hash repartition +
    within-partition (entity, ts) sort from util.grouped_frames_sorted —
    then a streaming Arrow pass paying per BATCH, not per group (the
    ~1-4 ms/group applyInPandas fee would dominate at web-scale user
    counts). Memory is bounded by the largest single trajectory, and
    the O(n log n)-expected DP stack is numpy over zero-copy slices.
    Reference parity: pygridmap has no polyline ops (grids are static);
    this is GEOS ``simplify`` re-expressed for the moving-points family.
    """
    import numpy as np

    from pygridmap_spark import util

    keys = [entity_col] if isinstance(entity_col, str) else list(entity_col)
    tol2 = float(tolerance) * float(tolerance)
    if not tol2 >= 0.0:  # NaN-proof
        raise ValueError("simplify_trajectory: tolerance must be a number >= 0")

    def _kern(sub):
        xs = sub[x].to_numpy(dtype=np.float64)
        ys = sub[y].to_numpy(dtype=np.float64)
        if np.isnan(xs).any() or np.isnan(ys).any():
            raise ValueError(
                "simplify_trajectory: NULL/NaN coordinates in entity "
                f"{sub[keys[0]].iloc[0]!r} — filter or segment upstream"
            )
        return sub.iloc[_dp_keep_mask(xs, ys, tol2)]

    order = [ts_col] + ([tiebreak] if tiebreak else [])
    return util.grouped_frames_sorted(
        df, keys, _kern, util.schema_with(df), order_by=order
    )


def od_flows(
    stays: DataFrame,
    z: int,
    entity_col: str = "user_id",
    t_col: str = "t_start",
    lon: str = "ctr_lon",
    lat: str = "ctr_lat",
    drop_self: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """Origin-destination flow matrix from a stay-point table: assign each
    stay's centroid to a zoom-``z`` Morton cell, pair consecutive stays
    per entity (ordered by ``t_col``), and count trips per (origin cell,
    destination cell; ``tiebreak`` breaks equal-``t_col`` ordering
    deterministically, e.g. ``seg_id``) — the canonical
    trajectory-mining composition
    (Zheng 2015, "Trajectory Data Mining", public): raw pings ->
    ``stay_points`` -> flows.

    Returns ``(o_ix, o_iy, o_cell, d_ix, d_iy, d_cell, n_trips,
    n_entities)``; ``drop_self=True`` removes same-cell flows (returns to
    the same place). Stays with NULL/NaN centroids get NULL cells and are
    dropped (they can neither originate nor receive a trip).

    Scale shape: the stays frame is already orders below the ping count;
    the pairing is ONE window exchange on the entity key (lead over the
    per-entity timeline — stay intervals are disjoint, so ``t_col`` is a
    strict order), and the matrix rollup is a partially-aggregated hash
    agg on the (o, d) key. n_entities is count(DISTINCT entity) per pair
    — the expand-distinct rides the same exchange.
    """
    from pygridmap_spark.functions import cellindex as CI

    idx = CI.with_cell_index(stays, z, lon=lon, lat=lat).filter(
        F.col("cell_ix").isNotNull()
    )
    order = [F.col(t_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity_col).orderBy(*order)
    paired = idx.select(
        F.col(entity_col).alias("__e__"),
        F.col("cell_ix").alias("o_ix"),
        F.col("cell_iy").alias("o_iy"),
        F.col("cell_id").alias("o_cell"),
        F.lead("cell_ix").over(w).alias("d_ix"),
        F.lead("cell_iy").over(w).alias("d_iy"),
        F.lead("cell_id").over(w).alias("d_cell"),
    ).filter(F.col("d_cell").isNotNull())
    if drop_self:
        paired = paired.filter(F.col("o_cell") != F.col("d_cell"))
    return paired.groupBy("o_ix", "o_iy", "o_cell", "d_ix", "d_iy", "d_cell").agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.count_distinct(F.col("__e__")).alias("n_entities"),
    )


def contact_pairs(
    pings: DataFrame,
    radius_m: float,
    window_s: float,
    level: int | None = None,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    ping_id: str = "ping_id",
) -> DataFrame:
    """Spatio-temporal co-location join: every unordered pair of DISTINCT
    entities that came within ``radius_m`` great-circle meters of each
    other within ``window_s`` seconds — the contact-tracing / co-location
    primitive (Zheng 2015 §5 "moving together" patterns, public). Exact:
    equals the all-pairs filter, pinned by tests and a driver oracle.

    Plan (one candidate equi-join, no all-pairs anywhere):

    1. bucket time: ``tb = us DIV (window_s * 1e6)`` on exact integer
       microseconds — a qualifying pair's buckets differ by at most 1;
    2. index space at the S2 cover level for ``radius_m``
       (operators/knn_sphere.radius_cover_level): every match lies in the
       probe ping's cell or one of its <= 8 cube-wrap neighbors;
    3. LEFT side duplicates to buckets {tb, tb+1} (pure Catalyst explode,
       2x|P| rows); PROBE side expands to its <= 9 cover cells (one Arrow
       kernel, the knn_sphere cover pattern, <= 9x|P| rows of ids +
       coords); ONE (face, i, j, bucket) equi-join joins them —
       same-bucket pairs match in both directions (deduped by
       ``id_l < id_p``), adjacent-bucket pairs exactly once
       (``tb_p == tb_l + 1``);
    4. exact refine: |delta t| <= window on integer microseconds, the
       haversine (functions/geodesy.gc_distance_m — the cross-engine
       parity shape) <= radius, entities distinct;
    5. partial-aggregated rollup per unordered entity pair.

    At 100-TB scale the exchange carries ~11 rows per ping (2x left +
    9x probe) of id + 2 doubles each on a near-uniform (cell, bucket)
    key; a dense cell+bucket (stadium crowd) is exactly the skew AQE's
    skew-join split handles, and the pair rollup partial-aggregates
    map-side. Returns ``(user_a, user_b, n_contacts, first_ts,
    min_dist_m)`` with user_a < user_b, ``first_ts`` the earlier ping's
    timestamp of the earliest contact, ``min_dist_m`` the closest
    approach in meters (raw double; round with the floor trick for
    cross-engine output parity).

    Reference parity: pygridmap's proximity tooling is static planar
    grids; this is the temporal member the web-scale ping domain needs.
    """
    events = contact_events(
        pings, radius_m, window_s, level,
        entity_col=entity_col, ts_col=ts_col, lon=lon, lat=lat,
        ping_id=ping_id,
    )
    return events.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_contacts"),
        F.min("contact_ts").alias("first_ts"),
        F.min("dist_m").alias("min_dist_m"),
    )


def contact_events(
    pings: DataFrame,
    radius_m: float,
    window_s: float,
    level: int | None = None,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    ping_id: str = "ping_id",
    watermark: str | None = None,
) -> DataFrame:
    """Per-contact EVENT rows — one row per qualifying ping pair:
    ``(user_a, user_b, ping_a, ping_b, ts_a, ts_b, contact_ts, dist_m)``
    with user_a < user_b and the a/b ping columns aligned to that
    ordering. :func:`contact_pairs` is the per-pair rollup of this frame;
    contact-tracing sinks that need the raw encounters consume it
    directly.

    Works UNCHANGED on a STREAMING pings frame: pass ``watermark`` (e.g.
    ``"2 minutes"``) and the candidate join becomes a watermarked
    stream-stream self-join — each side carries its event-time watermark
    and the join condition includes the ± ``window_s`` time-interval
    constraint on the two timestamp columns, so Spark can evict join
    state as the watermark advances (state is bounded by watermark +
    window, not stream length). Batch plans are unaffected by the extra
    interval conjunct (Catalyst still extracts the same equi keys).
    See streaming/contacts.py for the stream-facing wrapper and the
    batch==stream parity test.
    """
    from pygridmap_spark.functions import s2 as S2
    from pygridmap_spark.operators.knn_sphere import radius_cover_level

    if radius_m <= 0:
        raise ValueError(f"radius_m must be positive, got {radius_m}")
    if window_s <= 0:
        raise ValueError(f"window_s must be positive, got {window_s}")
    lc = radius_cover_level(radius_m)
    if level is None:
        level = min(lc, S2.MAX_LEVEL)
    elif level > lc:
        raise ValueError(
            f"level={level} is finer than the cover guarantee level {lc} "
            f"for radius_m={radius_m}: a 9-cell cover at that level can "
            "miss contacts. Pass level <= the guarantee level (or None)."
        )
    if level < 1:
        raise ValueError(
            f"radius_m={radius_m} is too large for any S2 cover level "
            "(a significant fraction of the sphere); contact radii are "
            "meters-to-km scale. Use operators/knn_sphere."
        )
    window_us = int(round(float(window_s) * 1_000_000))

    src = pings
    if not pings.isStreaming:
        # Scale-adaptive widening (guide §2.2): everything below — the S2
        # face/ij trig chain, the Arrow probe kernel, the broadcast build —
        # runs BEFORE the first exchange, so a narrow input (one parquet
        # row group at bench scale) serializes it onto one core (measured:
        # 4.8 of 6.9 s in a single-task broadcast-build stage at sf0.1).
        # Widen only when the scan is narrower than the session
        # parallelism; a lake-scale pings table already has more splits
        # than cores and this is a no-op. Streaming sources keep their
        # micro-batch partitioning (repartition would break the
        # stream-stream state contract's even pacing for no gain).
        n_in = pings.rdd.getNumPartitions()
        p = pings.sparkSession.sparkContext.defaultParallelism
        if n_in < p:
            src = pings.repartition(p)
    base = S2.with_s2_face_ij(
        src.select(
            F.col(ping_id).alias("__pid__"),
            F.col(entity_col).alias("__ent__"),
            F.col(ts_col).alias("__ts__"),
            F.col(lon).alias("__lon__"),
            F.col(lat).alias("__lat__"),
        ).withColumns(
            {
                # NTZ-safe: session tz is pinned UTC (session.get_spark),
                # so the cast is the identity wall-clock == DuckDB epoch_us
                "__us__": F.unix_micros(F.col("__ts__").cast("timestamp")),
            }
        ),
        level,
        "__lon__",
        "__lat__",
        prefix="_c_",
    ).withColumn("__tb__", F.expr(f"__us__ DIV {window_us}"))
    # unit-sphere xyz per PING (3 doubles riding the exchange): the
    # candidate refine below compares the squared CHORD — 8 multiplies
    # per candidate — before touching the haversine, whose 6
    # transcendentals per candidate were the refine stage's dominant
    # cost (guide §2.3: pay bytes per ROW to avoid work per CANDIDATE;
    # candidates outnumber pings quadratically in the cell density)
    _rlon, _rlat = F.radians("__lon__"), F.radians("__lat__")
    base = base.withColumns(
        {
            "__x__": F.cos(_rlat) * F.cos(_rlon),
            "__y__": F.cos(_rlat) * F.sin(_rlon),
            "__z__": F.sin(_rlat),
        }
    )
    # NULL/NaN coordinates index to NULL cells (the r4 s2 contract) and
    # can never contact anything — drop them HERE so the probe kernel
    # never casts NaN cell columns to int64 (executor RuntimeWarnings +
    # ~9 junk probe rows per bad ping riding the exchange for nothing)
    base = base.filter(F.col("_c_i").isNotNull())
    if not pings.isStreaming:
        # both self-join sides derive from base: materialize it once so
        # the scan -> widen -> S2 face/ij trig chain doesn't execute per
        # side (a streaming source stays lazy — checkpointing would break
        # the micro-batch contract; its sides must recompute anyway)
        base = base.localCheckpoint(eager=True)

    left = base.select(
        F.col("__pid__").alias("_lid"),
        F.col("__ent__").alias("_lent"),
        F.col("__ts__").alias("_lts"),
        F.col("__us__").alias("_lus"),
        F.col("__tb__").alias("_ltb"),
        F.col("__lon__").alias("_llon"),
        F.col("__lat__").alias("_llat"),
        F.col("__x__").alias("_lx"),
        F.col("__y__").alias("_ly"),
        F.col("__z__").alias("_lz"),
        F.col("_c_face").cast("int").alias("_cf"),
        F.col("_c_i").alias("_ci"),
        F.col("_c_j").alias("_cj"),
        F.explode(F.array(F.col("__tb__"), F.col("__tb__") + F.lit(1)).cast("array<long>")).alias("_b"),
    )

    probe_schema = (
        "_pid long, _pent long, _pts timestamp, _pus long, _ptb long, "
        "_plon double, _plat double, _px double, _py double, _pz double, "
        "_pcf int, _pci long, _pcj long"
    )
    _id_t = dict(base.dtypes)["__pid__"]
    _ent_t = dict(base.dtypes)["__ent__"]
    _ts_t = dict(base.dtypes)["__ts__"]
    probe_schema = (
        probe_schema.replace("_pid long", f"_pid {_id_t}")
        .replace("_pent long", f"_pent {_ent_t}")
        .replace("_pts timestamp", f"_pts {_ts_t}")
    )
    lvl = level

    def _probe_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            fc = pdf["_c_face"].to_numpy()
            ic = pdf["_c_i"].to_numpy()
            jc = pdf["_c_j"].to_numpy()
            row, f2, i2, j2 = S2.py_s2_neighbors_ij(fc, ic, jc, lvl)
            cols = [
                "__pid__", "__ent__", "__ts__", "__us__", "__tb__",
                "__lon__", "__lat__", "__x__", "__y__", "__z__",
            ]
            names = [
                "_pid", "_pent", "_pts", "_pus", "_ptb",
                "_plon", "_plat", "_px", "_py", "_pz",
            ]
            own = {n: pdf[c].to_numpy() for n, c in zip(names, cols)}
            self_df = pd.DataFrame(
                dict(own, _pcf=fc.astype(np.int32), _pci=ic, _pcj=jc)
            )
            nb_df = pd.DataFrame(
                dict(
                    {n: own[n][row] for n in names},
                    _pcf=f2.astype(np.int32),
                    _pci=i2,
                    _pcj=j2,
                )
            )
            yield pd.concat([self_df, nb_df], ignore_index=True)

    probe = base.select(
        "__pid__", "__ent__", "__ts__", "__us__", "__tb__", "__lon__", "__lat__",
        "__x__", "__y__", "__z__", "_c_face", "_c_i", "_c_j",
    ).mapInPandas(_probe_kernel, probe_schema)

    if watermark is not None:
        left = left.withWatermark("_lts", watermark)
        probe = probe.withWatermark("_pts", watermark)

    cond = (
        (F.col("_cf") == F.col("_pcf"))
        & (F.col("_ci") == F.col("_pci"))
        & (F.col("_cj") == F.col("_pcj"))
        & (F.col("_b") == F.col("_ptb"))
        # time-interval conjunct on the two EVENT-TIME columns: redundant
        # with the exact integer-us filter below for batch, REQUIRED for
        # streaming state eviction (watermark + interval bounds the join
        # state); Catalyst still extracts the same equi keys either way
        & F.expr(
            f"_pts BETWEEN _lts - INTERVAL {window_us} MICROSECOND "
            f"AND _lts + INTERVAL {window_us} MICROSECOND"
        )
    )
    dist = GD.gc_distance_m(
        F.col("_llon"), F.col("_llat"), F.col("_plon"), F.col("_plat")
    )
    # conservative squared-chord gate: the chord bound is slacked +1e-9
    # relative and +1e-12 absolute (6 um on the Earth), so the rounding of
    # the xyz components and of the haversine's own coordinates — each a
    # few 1e-16 on the unit sphere, which is ~1e-8 of the chord at a
    # sub-metre radius — can never drop a true boundary contact. Survivors
    # are a superset, and the EXACT haversine filter below is unchanged,
    # so the output is bit-identical; NaN coordinates fail the comparison
    # and drop, exactly as they fail the haversine filter
    from pygridmap_spark.functions.geodesy import EARTH_RADIUS_M as _R

    _half = math.sin(min(float(radius_m) / (2.0 * _R), math.pi / 2.0))
    _chord2_max = (2.0 * _half * (1.0 + 1e-9) + 1e-12) ** 2
    _dx = F.col("_lx") - F.col("_px")
    _dy = F.col("_ly") - F.col("_py")
    _dz = F.col("_lz") - F.col("_pz")
    refined = (
        left.join(probe, cond)
        .filter(
            (
                ((F.col("_ltb") == F.col("_ptb")) & (F.col("_lid") < F.col("_pid")))
                | (F.col("_ptb") == F.col("_ltb") + F.lit(1))
            )
            & (F.col("_lent") != F.col("_pent"))
            & (F.abs(F.col("_lus") - F.col("_pus")) <= F.lit(window_us))
            & (_dx * _dx + _dy * _dy + _dz * _dz <= F.lit(_chord2_max))
        )
        .withColumn("_d", dist)
        .filter(F.col("_d") <= F.lit(float(radius_m)))
    )
    a_first = F.col("_lent") < F.col("_pent")
    return refined.select(
        F.when(a_first, F.col("_lent")).otherwise(F.col("_pent")).alias("user_a"),
        F.when(a_first, F.col("_pent")).otherwise(F.col("_lent")).alias("user_b"),
        F.when(a_first, F.col("_lid")).otherwise(F.col("_pid")).alias("ping_a"),
        F.when(a_first, F.col("_pid")).otherwise(F.col("_lid")).alias("ping_b"),
        F.when(a_first, F.col("_lts")).otherwise(F.col("_pts")).alias("ts_a"),
        F.when(a_first, F.col("_pts")).otherwise(F.col("_lts")).alias("ts_b"),
        F.when(F.col("_lus") <= F.col("_pus"), F.col("_lts"))
        .otherwise(F.col("_pts"))
        .alias("contact_ts"),
        F.col("_d").alias("dist_m"),
    )


def route_corridor(
    points: DataFrame,
    routes: DataFrame,
    radius_m: float | None = None,
    lon: str = "lon",
    lat: str = "lat",
    route_id: str = "route_id",
    seq: str = "seq",
    rlon: str = "lon",
    rlat: str = "lat",
    out_col: str = "route_dist_rad",
    km_col: str | None = None,
    id_out: str = "nearest_route",
) -> DataFrame:
    """Geodesic route-corridor enrichment: append to every point its EXACT
    great-circle distance to the nearest route POLYLINE (min over every
    arc of every route — perpendicular foot when it lies on the arc, else
    the nearer endpoint; core/sphere.min_polyline_arc_dist) and the
    nearest route's id. The corridor filter (``radius_m``) keeps points
    within that distance of ANY route — the transit/road/pipeline
    proximity feature over page geotags or pings.

    ``routes`` is a vertex frame (``route_id``, ``seq``, lon, lat),
    DIMENSION-SIZED by the same contract as the zone/overlay layers
    (grid_maker's mask rule): it is collected once (capped at 2M
    vertices — a clear ValueError asks for pre-aggregation past that,
    instead of an opaque driver OOM) and closes over the Arrow kernel,
    so the point stream is ONE mapInPandas projection — zero joins,
    zero shuffles at any corpus size. Dimension rows are validated at
    the API: non-null integer ids, fully populated vertices, unique
    (route_id, seq). Distances are unit-
    sphere RADIANS (``km_col`` adds kilometers); NULL/NaN coordinates get
    NULL outputs (the repo-wide NULL-not-NaN kernel contract) and are
    dropped by the corridor filter. Ties between routes break to the
    smaller route id (deterministic, the kNN discipline).
    """
    import numpy as np

    from pygridmap_spark import util as _util
    from pygridmap_spark.core import sphere as SPH

    if radius_m is not None and radius_m <= 0:
        raise ValueError(f"radius_m must be positive, got {radius_m}")
    for c in (out_col, id_out):
        if c in points.columns:
            raise ValueError(f"points frame already has a {c!r} column")
    # guard + fetch in ONE job (the raster zonal_stats discipline): the
    # routes frame is dimension-sized by contract; past 2M vertices the
    # driver collect would balloon opaquely, so refuse with a clear error
    _ROUTE_CAP = 2_000_000
    rows = (
        routes.select(route_id, seq, rlon, rlat)
        .orderBy(route_id, seq)
        .limit(_ROUTE_CAP + 1)
        .collect()
    )
    if len(rows) > _ROUTE_CAP:
        raise ValueError(
            f"route_corridor: routes frame exceeds {_ROUTE_CAP} vertices — "
            "beyond the dimension-closure contract (the vertex table is "
            "collected driver-side and closed over the kernel). "
            "Pre-aggregate or simplify the route layer first."
        )
    if not rows:
        raise ValueError("routes frame is empty")
    seen_keys = set()
    for r in rows:
        if r[0] is None or not isinstance(r[0], int):
            # the kernel tracks the argmin id in an int64 array and the
            # output schema is long — a NULL or string route key would die
            # inside the executor as an opaque error; fail at the API
            raise ValueError(
                f"route_id must be a non-null integer column (got {r[0]!r}; "
                "map string route keys to ids upstream and join back after)"
            )
        if r[1] is None or r[2] is None or r[3] is None:
            raise ValueError(
                f"route {r[0]}: NULL seq/{rlon}/{rlat} vertex — route "
                "vertex rows must be fully populated"
            )
        key = (r[0], r[1])
        if key in seen_keys:
            raise ValueError(
                f"route {r[0]}: duplicate (route_id, seq) = {key} — vertex "
                "order would be ambiguous"
            )
        seen_keys.add(key)
    by_route: dict = {}
    for r in rows:
        by_route.setdefault(r[0], []).append((float(r[2]), float(r[3])))
    route_xyz = [
        (rid, SPH.lonlat_to_xyz(np.array([v[0] for v in vs]), np.array([v[1] for v in vs])))
        for rid, vs in sorted(by_route.items())
    ]

    extra = [f"{id_out} long", f"{out_col} double"] + (
        [f"{km_col} double"] if km_col else []
    )
    schema = _util.schema_with(points, *extra)

    def _kernel(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core.sphere import EARTH_RADIUS_KM, min_polyline_arc_dist

        for pdf in batches:
            lo = pdf[lon].to_numpy(np.float64, na_value=np.nan)
            la = pdf[lat].to_numpy(np.float64, na_value=np.nan)
            valid = np.isfinite(lo) & np.isfinite(la)
            best = np.full(len(pdf), np.nan)
            bid = np.full(len(pdf), -1, dtype=np.int64)
            if valid.any():
                rl, rp = np.radians(lo[valid]), np.radians(la[valid])
                cp = np.cos(rp)
                p = np.column_stack([cp * np.cos(rl), cp * np.sin(rl), np.sin(rp)])
                vb = np.full(int(valid.sum()), np.inf)
                vid = np.full(int(valid.sum()), -1, dtype=np.int64)
                for rid, xyz in route_xyz:
                    d = min_polyline_arc_dist(p, xyz)
                    upd = d < vb
                    vb[upd] = d[upd]
                    vid[upd] = rid
                best[valid] = vb
                bid[valid] = vid
            pdf = pdf.copy()
            pdf[id_out] = pd.array(
                np.where(valid, bid, 0), dtype="Int64"
            )
            pdf.loc[~valid, id_out] = pd.NA
            pdf[out_col] = pd.array(best, dtype="Float64")
            if km_col:
                pdf[km_col] = pdf[out_col] * EARTH_RADIUS_KM
            yield pdf

    out = points.mapInPandas(_kernel, schema)
    if radius_m is not None:
        out = out.filter(
            F.col(out_col) <= F.lit(float(radius_m) / (GD.EARTH_RADIUS_M))
        )
    return out
