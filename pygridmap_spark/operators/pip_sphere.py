"""Geodesic point-in-polygon join over the S2 cell cover.

The planar joins (operators/spatialjoin.py polygon_pip_join) are exact
for coordinates already in a projected plane; web-scale page coordinates
live on the sphere, where planar rect covers stop being containment-
correct at high latitudes and across the antimeridian / cube edges. This
operator runs the same two-phase cover+refine design with GREAT-CIRCLE
edges, using ``functions.s2.polyfill(classify=True)`` as the cover:

1. one Arrow pass over the polygon layer emits each zone's level-``level``
   cells labeled interior (cell provably inside: center inside and the
   boundary farther than the exact cell circumradius) or boundary (the
   cell's circumball can touch a boundary arc) — the WKB never rides the
   cell replication (chunked range rows, functions/s2.py),
2. ONE shuffled equi-join with points on (face, i, j) — AQE skew-splits
   the cover of continent-sized zones,
3. points in interior cells are inside by the join alone (zero geometry
   work — the dominant class: interior cells grow with zone AREA while
   boundary cells grow with boundary LENGTH, so the refined fraction
   vanishes as zones get large relative to the cell size); boundary-cell
   candidates join the raw WKB back by zone id (each geometry ships once
   through that exchange) and run the exact tangent-plane winding test
   (core/sphere.py), decoding once per zone per batch.

Exactness domain: each polygon's bounding cap must fit in an open
QUARTER-sphere (polyfill raises otherwise — beyond that the cap
restriction cannot exclude the antipodal winding mirror), great-circle
edges < 180 deg, points exactly on an edge resolve either way (measure
zero). A point inside several overlapping
zones yields one output row per zone. Points with NULL or NaN
coordinates get NULL cover keys (functions/s2.py) and therefore appear
in NO zone — they drop out of the equi-join rather than polluting a
cell's interior path.

Reference parity: pygridmap classifies planar grid cells against a mask
polygon per tile (gridding.py prll_process_tile, gridtiler.py) — this is
the spherical member of that family, keyed by the engine's S2 index so
the same (face, i, j) columns serve kNN, radius joins, rollups and this
join without re-encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pygridmap_spark.functions import s2 as S2

_P = "__pip_"


def point_in_polygon_s2(
    points: DataFrame,
    polygons: DataFrame,
    level: int,
    lon: str = "lon",
    lat: str = "lat",
    wkb_col: str = "wkb",
    poly_key: str = "poly_id",
    candidates_partitions: int | None = None,
) -> DataFrame:
    """Tag each point with every geodesic (multi)polygon containing it.

    ``level`` sets the cover cell size: finer levels shrink the refined
    boundary-cell fraction but grow the cover table (cells ~ area * 4^level
    on the unit sphere). Pick the level whose cell size is a small
    multiple of the typical zone boundary feature — admin-zone layers at
    city scale sit around level 10-13.

    Returns the point columns plus ``poly_key`` (one row per containing
    zone). Point frames must not already carry ``poly_key`` or
    ``{lon}/{lat}``-conflicting ``__pip_*`` temporaries.
    """
    if poly_key in points.columns:
        raise ValueError(
            f"points already has a {poly_key!r} column; rename one side"
        )
    cover = S2.polyfill(
        polygons,
        level,
        wkb_col=wkb_col,
        id_col=poly_key,
        prefix=_P,
        candidates_partitions=candidates_partitions,
        classify=True,
    ).drop(f"{_P}compact")
    # the cover feeds BOTH the interior pass-through and the boundary
    # refine; a lazy plan recomputes the classify kernel once per branch
    # (AQE does not reuse the exchange across the union — measured 2.5x
    # at 2M points x 100 zones). localCheckpoint materializes it exactly
    # once; like the dedup family, the cover job runs EAGERLY at call
    # time (cells-sized, bounded by zone area / cell area, never points)
    cover = cover.localCheckpoint(eager=True)
    pts = S2.with_s2_face_ij(points, level, lon=lon, lat=lat, prefix=_P)
    cand = pts.join(cover, [f"{_P}face", f"{_P}i", f"{_P}j"])
    interior = cand.filter(F.col(f"{_P}interior"))
    boundary = cand.filter(~F.col(f"{_P}interior")).join(
        polygons.select(poly_key, F.col(wkb_col).alias(f"{_P}wkb")), poly_key
    )
    schema = interior.schema

    def _exact(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        cache: dict = {}
        for batch in batches:
            if not len(batch):
                continue
            px = batch[lon].to_numpy(dtype=np.float64)
            py = batch[lat].to_numpy(dtype=np.float64)
            p = SPH.lonlat_to_xyz(px, py)
            # factorize once: int-code group masks instead of a whole-batch
            # comparison per distinct zone (O(rows) vs O(rows x zones) —
            # object-dtype ids make the latter Python-level comparisons)
            codes, uniq = pd.factorize(batch[poly_key])
            keep = np.zeros(len(batch), dtype=bool)
            for gi, pid in enumerate(uniq):
                sel = np.nonzero(codes == gi)[0]
                rxyz = cache.get(pid)
                if rxyz is None:
                    mp = WKB.decode_multipolygon(
                        bytes(batch[f"{_P}wkb"].iloc[sel[0]])
                    )
                    # cache the UNIT-VECTOR rings, not lon/lat: the trig
                    # transform is the per-zone cost worth amortizing
                    rxyz = [
                        SPH.ring_to_xyz(r)
                        for poly in mp
                        for r in poly
                        if len(r) >= 3
                    ]
                    if len(cache) < 4096:
                        cache[pid] = rxyz
                inside = np.zeros(len(sel), dtype=bool)
                for rx in rxyz:
                    inside ^= SPH.points_in_spherical_ring(p[sel], rx)
                keep[sel] = inside
            yield batch[keep].drop(columns=[f"{_P}wkb"])

    exact = boundary.mapInPandas(_exact, schema)
    drop = [f"{_P}face", f"{_P}i", f"{_P}j", f"{_P}interior"]
    return interior.unionByName(exact).drop(*drop)


def region_filter(
    points: DataFrame,
    polygons: DataFrame,
    max_cells: int = 256,
    max_level: int = 12,
    lon: str = "lon",
    lat: str = "lat",
    wkb_col: str = "wkb",
    poly_key: str = "poly_id",
    cell_col: str | None = None,
    max_ranges: int = 4096,
) -> DataFrame:
    """Scan-prune + exact refine for a FEW regions — the S2
    covering-as-predicate pattern. Each region compiles to at most
    ``max_cells`` mixed-level id ranges (``functions.s2.covering``); their
    OR-of-BETWEEN disjunction goes into a plain ``filter`` on the cell
    id, so on a lake table SORTED by that id the predicate reaches the
    parquet scan as PushedFilters and prunes row groups BEFORE any join
    or Python — the dominant cost of "which pages are in this country"
    over 100 TB is then the scan of the matching id ranges only. The
    tiny survivor set is assigned and exact-refined in one Arrow pass
    (interior ranges are proof of containment; boundary-range hits run
    the winding test).

    ``cell_col`` names an existing S2-layout id column (any level >=
    ``max_level``, e.g. the table's index column); ``None`` computes a
    level-``max_level`` id inline (Catalyst, codegen — no pushdown
    benefit unless the source is already cell-sorted). The covering and
    region WKB are collected driver-side: ``max_cells x n_regions``
    rows, dimension-sized by contract (``max_ranges`` guards the
    predicate size) — for region LAYERS use :func:`point_in_polygon_s2`.
    Returns the point columns plus ``poly_key``."""
    if poly_key in points.columns:
        raise ValueError(
            f"points already has a {poly_key!r} column; rename one side"
        )
    # two independent dimension-sized collects (covering compile + region
    # WKB) off the same polygons frame: submit both concurrently so the
    # second job's stages back-fill the first's tail (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_cov = _pool.submit(
            lambda: S2.covering(
                polygons, max_cells=max_cells, max_level=max_level,
                wkb_col=wkb_col, id_col=poly_key, prefix=_P,
            ).collect()
        )
        _f_geo = _pool.submit(polygons.select(poly_key, wkb_col).collect)
        cov = _f_cov.result()
        _geo_rows = _f_geo.result()
    if len(cov) > max_ranges:
        raise ValueError(
            f"covering has {len(cov)} ranges (> max_ranges={max_ranges}): "
            "too many regions for the scan-prune path — use "
            "point_in_polygon_s2 for region layers"
        )
    geoms = {
        r[poly_key]: bytes(r[wkb_col])
        for r in _geo_rows
        if r[wkb_col] is not None
    }
    key_field = [f for f in polygons.schema.fields if f.name == poly_key][0]
    out_schema = T.StructType(list(points.schema.fields) + [key_field])
    if not cov:
        return points.sparkSession.createDataFrame([], out_schema)

    if cell_col is None:
        # Arrow-kernel route, NOT the Catalyst unroll: the OR-of-BETWEEN
        # filter would otherwise push through the encode's Project chain,
        # substituting the full Hilbert expression into every term
        # (exponential optimizer blowup — the known inlining hazard); the
        # kernel is a pushdown barrier, and inline mode has no scan to
        # prune anyway (use cell_col on a cell-sorted table for that)
        cidx = S2.with_s2_index_kernel(
            points, max_level, lon=lon, lat=lat, prefix=_P
        )
        cell = F.col(f"{_P}cell")
    else:
        cidx = points
        cell = F.col(cell_col)
    # scan predicate: coalesce overlapping/adjacent ranges ACROSS polygons
    # (sibling interior cells merge into long runs of the curve), then
    # fold the OR as a balanced tree — a linear fold stack-overflows
    # Catalyst's column converter past a few hundred terms
    spans = sorted(
        (r[f"{_P}range_min"], r[f"{_P}range_max"]) for r in cov
    )
    merged = [list(spans[0])]
    for lo, hi in spans[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    terms = [cell.between(lo, hi) for lo, hi in merged]
    while len(terms) > 1:
        terms = [
            terms[k] | terms[k + 1] if k + 1 < len(terms) else terms[k]
            for k in range(0, len(terms), 2)
        ]
    cand = cidx.filter(terms[0])

    # assignment + refine in ONE Arrow pass over the pruned survivors:
    # searchsorted against each region's sorted ranges, winding only for
    # boundary-range hits
    bc = points.sparkSession.sparkContext.broadcast(
        {
            "geoms": geoms,
            "ranges": [
                (
                    r[poly_key],
                    r[f"{_P}range_min"],
                    r[f"{_P}range_max"],
                    r[f"{_P}interior"],
                )
                for r in cov
            ],
        }
    )
    cell_name = cell_col if cell_col is not None else f"{_P}cell"
    point_cols = [f.name for f in points.schema.fields]

    def _assign(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        val = bc.value
        by_poly: dict = {}
        for pid, lo, hi, interior in val["ranges"]:
            by_poly.setdefault(pid, []).append((lo, hi, interior))
        rings_cache: dict = {}

        def rings_of(pid):
            if pid not in rings_cache:
                mp = WKB.decode_multipolygon(val["geoms"][pid])
                rings_cache[pid] = [
                    SPH.ring_to_xyz(r) for poly in mp for r in poly if len(r) >= 3
                ]
            return rings_cache[pid]

        for batch in batches:
            if not len(batch):
                continue
            ids = batch[cell_name].to_numpy()
            p = None
            outs = []
            for pid, rs in by_poly.items():
                rs = sorted(rs)
                lo = np.array([r[0] for r in rs])
                hi = np.array([r[1] for r in rs])
                it = np.array([r[2] for r in rs])
                k = np.searchsorted(lo, ids, side="right") - 1
                kc = np.clip(k, 0, len(lo) - 1)
                hit = (k >= 0) & (ids <= hi[kc])
                if not hit.any():
                    continue
                keep = hit & it[kc]
                bndsel = np.flatnonzero(hit & ~it[kc])
                if len(bndsel):
                    if p is None:
                        p = SPH.lonlat_to_xyz(
                            batch[lon].to_numpy(np.float64),
                            batch[lat].to_numpy(np.float64),
                        )
                    inside = np.zeros(len(bndsel), dtype=bool)
                    for rx in rings_of(pid):
                        inside ^= SPH.points_in_spherical_ring(p[bndsel], rx)
                    keep[bndsel[inside]] = True
                if keep.any():
                    sub = batch.loc[keep, point_cols].copy()
                    sub[poly_key] = pid
                    outs.append(sub)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return cand.mapInPandas(_assign, out_schema)


def zones_intersect_s2(
    left: DataFrame,
    right: DataFrame,
    level: int,
    wkb_col: str = "wkb",
    poly_key: str = "poly_id",
    suffixes: tuple = ("_l", "_r"),
    candidates_partitions: int | None = None,
    left_cover: DataFrame | None = None,
    right_cover: DataFrame | None = None,
) -> DataFrame:
    """Geodesic polygon x polygon INTERSECTS join: every (left, right)
    pair whose interiors intersect on the sphere — the polygon member of
    the spatial-join family (reference counterpart: the planar
    ``intersects`` joins of gridding/overlay, gridding.py set operations,
    here with great-circle edges).

    ``left_cover``/``right_cover`` accept a PRECOMPUTED classified cover
    (the output of ``functions.s2.polyfill(classify=True)`` at ``level``
    with the default ``s2_`` prefix). The cover is the layer's spatial
    INDEX: a lake pipeline materializes it once per layer and reuses it
    across PIP joins, region filters, and zone x zone joins — rebuilding
    it inline is pure waste when the layer participates in several joins
    (s2_rehearsal stage 8 records the index/join cost split).

    Plan (all candidate generation is the classified-cover equi-join;
    geometry only ever runs on surviving candidate PAIRS):

    1. both layers get a classified S2 cover (``polyfill(classify=True)``
       — a sound superset: every cell whose circumball can touch the
       zone), ids only;
    2. ONE (face, i, j) equi-join + pair aggregation. A pair sharing a
       cell that is provably interior to BOTH zones intersects with ZERO
       geometry work (the cell is a witness region);
    3. only the remaining candidate pairs join their WKB back and pay an
       exact Arrow refine: vertex-in-the-other tests (bounding-cap
       scoped winding), an interior representative point each (the
       lex-min interior cover cell's center — catches containment with
       no vertex inside, e.g. identical zones), and the transversal
       great-circle arc-crossing kernel
       (core/sphere.arcs_cross_pairs — antipodal-safe by construction).

    Exact for generic-position inputs (no shared boundary segments or
    endpoint tangencies — the kernel contract throughout this repo);
    zones must satisfy the polyfill domain (each bounded by an open
    hemisphere; quarter-sphere caps fail closed). Level trades cover
    size against refine work exactly as in :func:`point_in_polygon_s2`.

    Returns ``(poly_key + suffixes[0], poly_key + suffixes[1])``.
    """
    lkey, rkey = poly_key + suffixes[0], poly_key + suffixes[1]
    dt = dict(left.dtypes)[poly_key]
    if dict(right.dtypes)[poly_key] != dt:
        raise ValueError("left/right poly_key dtypes differ")

    def _cover(df: DataFrame, key: str, flag: str, pre: DataFrame | None) -> DataFrame:
        if pre is not None:  # a materialized polyfill(classify=True) cover
            return pre.select(
                F.col(poly_key).alias(key),
                F.col("s2_face").alias(f"{_P}face"),
                F.col("s2_i").alias(f"{_P}i"),
                F.col("s2_j").alias(f"{_P}j"),
                F.col("s2_interior").alias(flag),
            )
        cov = S2.polyfill(
            df,
            level,
            wkb_col=wkb_col,
            id_col=poly_key,
            prefix=_P,
            candidates_partitions=candidates_partitions,
            classify=True,
        ).select(
            F.col(poly_key).alias(key),
            f"{_P}face",
            f"{_P}i",
            f"{_P}j",
            F.col(f"{_P}interior").alias(flag),
        )
        # feeds the pair join AND the representative-cell agg: materialize
        # once (same reasoning + measurement as point_in_polygon_s2)
        return cov.localCheckpoint(eager=True)

    # the two cover builds are independent eager jobs (each ends in a
    # localCheckpoint): submit them concurrently so the second layer's
    # build back-fills executors freed by the first's stragglers
    # (guide §2.6 overlap-independent-jobs); precomputed covers return
    # instantly through the same path
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fl = _pool.submit(_cover, left, lkey, "__int_l__", left_cover)
        _fr = _pool.submit(_cover, right, rkey, "__int_r__", right_cover)
        covl, covr = _fl.result(), _fr.result()
    cells = [f"{_P}face", f"{_P}i", f"{_P}j"]

    def _rep(cov: DataFrame, key: str, flag: str, tag: str) -> DataFrame:
        return (
            cov.filter(F.col(flag))
            .groupBy(key)
            .agg(F.min(F.struct(*cells)).alias("__c__"))
            .select(
                key,
                F.col(f"__c__.{_P}face").alias(f"__repf{tag}__"),
                F.col(f"__c__.{_P}i").alias(f"__repi{tag}__"),
                F.col(f"__c__.{_P}j").alias(f"__repj{tag}__"),
            )
        )

    pairs = (
        covl.join(covr, cells)
        .groupBy(lkey, rkey)
        .agg(
            F.max(
                (F.col("__int_l__") & F.col("__int_r__")).cast("int")
            ).alias("__def__")
        )
    )
    definite = pairs.filter(F.col("__def__") == 1).select(lkey, rkey)
    cand = (
        pairs.filter(F.col("__def__") == 0)
        .select(lkey, rkey)
        .join(left.select(F.col(poly_key).alias(lkey), F.col(wkb_col).alias("__wl__")), lkey)
        .join(right.select(F.col(poly_key).alias(rkey), F.col(wkb_col).alias("__wr__")), rkey)
        .join(_rep(covl, lkey, "__int_l__", "l"), lkey, "left")
        .join(_rep(covr, rkey, "__int_r__", "r"), rkey, "left")
    )

    def _refine(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        def rep_xyz(row, tag):
            f = row[f"__repf{tag}__"]
            if pd.isna(f):
                return None
            clon, clat = S2.py_cell_center(
                np.array([int(f)]),
                np.array([int(row[f"__repi{tag}__"])]),
                np.array([int(row[f"__repj{tag}__"])]),
                level,
            )
            return SPH.lonlat_to_xyz(clon, clat)

        for batch in batches:
            keep = []
            for idx, row in batch.iterrows():
                hit = SPH.spherical_polygons_intersect(
                    WKB.decode_multipolygon(bytes(row["__wl__"])),
                    WKB.decode_multipolygon(bytes(row["__wr__"])),
                    rep_a=rep_xyz(row, "l"),
                    rep_b=rep_xyz(row, "r"),
                )
                if hit:
                    keep.append(idx)
            yield batch.loc[keep, [lkey, rkey]]

    refined = cand.mapInPandas(_refine, f"{lkey} {dt}, {rkey} {dt}")
    return definite.unionByName(refined)


def geodesic_area(
    df: DataFrame,
    wkb_col: str = "wkb",
    out_col: str = "area_sr",
    km2_col: str | None = None,
) -> DataFrame:
    """Append each geometry's EXACT geodesic area: ``out_col`` in
    steradians (solid angle) and optionally ``km2_col`` scaled by the
    mean-Earth-radius sphere (core/sphere.EARTH_RADIUS_KM ** 2).

    Area is the spherical-excess sum over a fan triangulation
    (core/sphere.spherical_ring_area — Van Oosterom & Strackee signed
    triangles), even-odd over rings (|outer| - |holes|), summed over a
    multipolygon's parts: the geodesic twin of the planar shoelace
    ``multipolygon_area``, replacing the reference's GEOS ``.area`` after
    pyproj reprojection (base.py) with sphere-true math that needs no
    projection at all.

    One Arrow projection pass, zero shuffles, zero joins — safe to call
    on a billion-zone layer; NULL wkb yields NULL areas (SQL NULL, not
    NaN, per the repo's Arrow-kernel contract).
    """
    from pygridmap_spark import util as _util
    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    extra = [f"{out_col} double"] + ([f"{km2_col} double"] if km2_col else [])
    schema = _util.schema_with(df, *extra)
    scale = EARTH_RADIUS_KM * EARTH_RADIUS_KM

    def _kernel(batches):
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        for pdf in batches:
            sr = [
                None
                if buf is None
                else SPH.spherical_multipolygon_area(
                    WKB.decode_multipolygon(bytes(buf))
                )
                for buf in pdf[wkb_col]
            ]
            pdf = pdf.copy()
            pdf[out_col] = pd.array(sr, dtype="Float64")
            if km2_col:
                pdf[km2_col] = pdf[out_col] * scale
            yield pdf

    return df.mapInPandas(_kernel, schema)


def geodesic_length(
    df: DataFrame,
    wkb_col: str = "wkb",
    out_col: str = "length_rad",
    km_col: str | None = None,
) -> DataFrame:
    """Append each geometry's EXACT geodesic boundary length: ``out_col``
    in radians (angle subtended) and optionally ``km_col`` scaled by the
    mean Earth radius. Outer rings and holes both count (GEOS ``.length``
    convention) — the sibling of :func:`geodesic_area`, replacing the
    reference's planar ``.length`` after reprojection with per-edge
    great-circle arcs (core/sphere.arc_lengths: atan2(|a x b|, a . b),
    norm-free and stable near zero and antipodal).

    Same plan shape as geodesic_area: one Arrow projection pass, zero
    shuffles, zero joins; NULL wkb yields SQL NULL, never NaN.
    """
    from pygridmap_spark import util as _util
    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    extra = [f"{out_col} double"] + ([f"{km_col} double"] if km_col else [])
    schema = _util.schema_with(df, *extra)

    def _kernel(batches):
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        for pdf in batches:
            rad = [
                None
                if buf is None
                else SPH.multipolygon_perimeter(
                    WKB.decode_multipolygon(bytes(buf))
                )
                for buf in pdf[wkb_col]
            ]
            pdf = pdf.copy()
            pdf[out_col] = pd.array(rad, dtype="Float64")
            if km_col:
                pdf[km_col] = pdf[out_col] * EARTH_RADIUS_KM
            yield pdf

    return df.mapInPandas(_kernel, schema)


def geodesic_centroid(
    df: DataFrame,
    wkb_col: str = "wkb",
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
) -> DataFrame:
    """Append each geometry's EXACT spherical centroid as lon/lat degrees
    — the direction of the region's vector area ``int_S rhat dOmega``,
    which collapses to the per-edge closed form
    ``(1/2) sum theta_i * nhat_i`` over great-circle edges
    (core/sphere.ring_vector_area; even-odd over rings like the area
    kernel). The sphere-true replacement for the reference's GEOS
    ``.centroid`` after planar reprojection (base.py) — the label/
    representative point a planar centroid misplaces at high latitude.

    Same plan shape as geodesic_area/geodesic_length: one Arrow
    projection pass, zero shuffles, zero joins; NULL wkb or a
    direction-degenerate region (|V| ~ 0) yields SQL NULL, never NaN.
    """
    from pygridmap_spark import util as _util

    schema = _util.schema_with(df, f"{lon_col} double", f"{lat_col} double")

    def _kernel(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        for pdf in batches:
            lons, lats = [], []
            for buf in pdf[wkb_col]:
                c = (
                    None
                    if buf is None
                    else SPH.multipolygon_centroid_xyz(
                        WKB.decode_multipolygon(bytes(buf))
                    )
                )
                if c is None:
                    lons.append(None)
                    lats.append(None)
                else:
                    lons.append(float(np.degrees(np.arctan2(c[1], c[0]))))
                    lats.append(float(np.degrees(np.arcsin(c[2]))))
            pdf = pdf.copy()
            pdf[lon_col] = pd.array(lons, dtype="Float64")
            pdf[lat_col] = pd.array(lats, dtype="Float64")
            yield pdf

    return df.mapInPandas(_kernel, schema)


def geodesic_stats(df: DataFrame, wkb_col: str = "wkb") -> DataFrame:
    """ALL the exact geodesic zonal statistics in ONE pass: appends
    ``area_sr``/``area_km2``, ``length_rad``/``length_km``,
    ``centroid_lon``/``centroid_lat``, and the spherical isoperimetric
    quotient ``compactness`` = A(4pi - A) / P^2 (== 1 for a cap).

    Chaining geodesic_area + geodesic_length + geodesic_centroid decodes
    the WKB and lifts every ring to unit vectors THREE times — at lake
    scale that transform IS the cost, so the fused kernel
    (core/sphere.multipolygon_stats, one decode + one lift feeding all
    three closed forms) is the operator a 100-TB zonal-statistics pass
    should run. Values are bit-identical to the chained operators
    (accumulation order mirrored term for term; pinned in tests).

    Same plan shape as the siblings: one Arrow projection pass, zero
    shuffles, zero joins. NULL wkb -> all-NULL; a direction-degenerate
    region -> NULL centroid; a zero-length boundary -> NULL compactness;
    never NaN.
    """
    from pygridmap_spark import util as _util
    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    schema = _util.schema_with(
        df,
        "area_sr double",
        "area_km2 double",
        "length_rad double",
        "length_km double",
        "centroid_lon double",
        "centroid_lat double",
        "compactness double",
    )
    four_pi = 4.0 * 3.141592653589793

    def _kernel(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        cols = [
            "area_sr", "area_km2", "length_rad", "length_km",
            "centroid_lon", "centroid_lat", "compactness",
        ]
        for pdf in batches:
            vals = {c: [] for c in cols}
            for buf in pdf[wkb_col]:
                if buf is None:
                    for c in cols:
                        vals[c].append(None)
                    continue
                area, perim, cen = SPH.multipolygon_stats(
                    WKB.decode_multipolygon(bytes(buf))
                )
                vals["area_sr"].append(area)
                vals["area_km2"].append(area * EARTH_RADIUS_KM**2)
                vals["length_rad"].append(perim)
                vals["length_km"].append(perim * EARTH_RADIUS_KM)
                if cen is None:
                    vals["centroid_lon"].append(None)
                    vals["centroid_lat"].append(None)
                else:
                    vals["centroid_lon"].append(
                        float(np.degrees(np.arctan2(cen[1], cen[0])))
                    )
                    vals["centroid_lat"].append(
                        float(np.degrees(np.arcsin(cen[2])))
                    )
                vals["compactness"].append(
                    area * (four_pi - area) / (perim * perim)
                    if perim > 0.0
                    else None
                )
            pdf = pdf.copy()
            for c in cols:
                pdf[c] = pd.array(vals[c], dtype="Float64")
            yield pdf

    return df.mapInPandas(_kernel, schema)


def zone_border_depth(
    tagged: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    wkb_col: str = "wkb",
    poly_key: str = "poly_id",
    out_col: str = "border_depth_rad",
    km_col: str | None = None,
) -> DataFrame:
    """Append each tagged point's EXACT geodesic distance to its
    containing zone's boundary (the "depth inside the border" — the
    distance-to-coastline / distance-to-admin-border enrichment).
    ``tagged`` is :func:`point_in_polygon_s2` output (point columns +
    ``poly_key``); ``polygons`` is the zone layer (``poly_key``,
    ``wkb_col``). Distance is the minimum over ALL boundary rings (outer
    and holes) of the point-to-great-circle-arc distance
    (core/sphere.min_arc_dist: perpendicular foot when it lies on the
    arc, else the nearer endpoint — exact, not sampled).

    Plan shape: ONE broadcast equi-join on ``poly_key`` (zone layers are
    dimension-sized by the same contract as the grid/overlay family)
    plus one Arrow projection pass — zero shuffles on the point stream.
    The kernel decodes each distinct zone WKB ONCE per batch
    (pd.factorize over the join-duplicated column) and runs the distance
    vectorized over that zone's points, so the per-point cost is
    O(boundary vertices) numpy with no per-row Python.
    """
    from pygridmap_spark import util as _util
    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    if wkb_col in tagged.columns:
        raise ValueError(
            f"tagged frame already has a {wkb_col!r} column; rename one side"
        )
    extra = [f"{out_col} double"] + ([f"{km_col} double"] if km_col else [])
    joined = tagged.join(
        F.broadcast(polygons.select(poly_key, wkb_col)), poly_key
    )
    # schema order must match the yielded frames: joined order minus wkb
    schema = _util.schema_with(joined.drop(wkb_col), *extra)

    def _kernel(batches):
        import numpy as np
        import pandas as pd

        from pygridmap_spark.core import sphere as SPH
        from pygridmap_spark.core import wkb as WKB

        for pdf in batches:
            rl = np.radians(pdf[lon].to_numpy(np.float64))
            rp = np.radians(pdf[lat].to_numpy(np.float64))
            cl = np.cos(rp)
            p = np.column_stack(
                [cl * np.cos(rl), cl * np.sin(rl), np.sin(rp)]
            )
            res = np.full(len(pdf), np.nan)
            codes, uniq = pd.factorize(pdf[wkb_col])
            for gi, buf in enumerate(uniq):
                if buf is None:
                    continue
                sel = codes == gi
                d = np.full(int(sel.sum()), np.pi)
                for poly in WKB.decode_multipolygon(bytes(buf)):
                    for ring in poly:
                        xyz = SPH.ring_to_xyz(ring)
                        if len(xyz) < 2:
                            continue
                        np.minimum(d, SPH.min_arc_dist(p[sel], xyz), out=d)
                res[sel] = d
            pdf = pdf.drop(columns=[wkb_col]).copy()
            pdf[out_col] = pd.array(res, dtype="Float64")
            if km_col:
                pdf[km_col] = pdf[out_col] * EARTH_RADIUS_KM
            yield pdf

    return joined.mapInPandas(_kernel, schema)


# --- Geodesic point buffer (spherical-cap N-gon) ------------------------------


def geodesic_buffer_vertices(
    df: DataFrame,
    radius_m: float,
    n_vertices: int = 32,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Vertex rows of the great-circle circle of radius ``radius_m`` around
    each input point: one row per (input row, k) with ``k`` in
    [0, n_vertices) and (``vlon``, ``vlat``) the k-th vertex, bearing
    2*pi*k/n clockwise from true north.

    Pure Catalyst trig — the spherical direct-geodesic closed form
    (Ed Williams' Aviation Formulary; the textbook sin/cos/atan2 identity):

        lat2 = asin(sin p1 cos d + cos p1 sin d cos th)
        lon2 = lon1 + atan2(sin th sin d cos p1, cos d - sin p1 sin lat2)

    with d = radius / mean Earth radius. Longitudes normalized to
    [-180, 180). Reference parity: pygridmap buffers grid bboxes in the
    plane (base.py buffer) and delegates true buffering to GEOS; this is
    the geodesic member for lake-scale radius prefilters/visualization —
    the exact counterpart join is knn_sphere.within_radius_s2, which tests
    the arc distance directly. Poles/antimeridian: vertices are correct on
    the SPHERE for any center; the lon/lat ring only reads as a planar
    polygon when the cap stays off the poles and seam (spherical consumers
    in this repo lift to xyz and don't care).
    """
    import math

    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    if n_vertices < 3:
        raise ValueError(f"n_vertices must be >= 3, got {n_vertices}")
    if not 0.0 < radius_m < math.pi * EARTH_RADIUS_KM * 1000.0:
        raise ValueError("radius_m must be in (0, pi*R) meters")
    d = radius_m / (EARTH_RADIUS_KM * 1000.0)
    from pygridmap_spark.functions.geodesy import _clamp_unit

    out = df.withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(n_vertices - 1))))
    th = F.col("k").cast("double") * F.lit(2.0 * math.pi) / F.lit(float(n_vertices))
    p1 = F.radians(F.col(lat))
    # clamped like the Arrow kernel's np.clip: a cap grazing a pole rounds
    # sin_lat2 to 1+ulp and would NaN the asin (null/NaN inputs propagate)
    sin_lat2 = _clamp_unit(
        F.sin(p1) * F.lit(math.cos(d)) + F.cos(p1) * F.lit(math.sin(d)) * F.cos(th)
    )
    vlat = F.degrees(F.asin(sin_lat2))
    vlon = F.degrees(
        F.radians(F.col(lon))
        + F.atan2(
            F.sin(th) * F.lit(math.sin(d)) * F.cos(p1),
            F.lit(math.cos(d)) - F.sin(p1) * sin_lat2,
        )
    )
    vlon = vlon - F.lit(360.0) * F.floor((vlon + F.lit(180.0)) / F.lit(360.0))
    # a row missing EITHER coordinate yields null for BOTH vertex coords
    # (vlat alone doesn't depend on lon and would otherwise leak a value)
    both = F.col(lon).isNotNull() & F.col(lat).isNotNull()
    return out.withColumns(
        {"vlon": F.when(both, vlon), "vlat": F.when(both, vlat)}
    )


def geodesic_point_buffer(
    df: DataFrame,
    radius_m: float,
    n_vertices: int = 32,
    lon: str = "lon",
    lat: str = "lat",
    out_col: str = "buffer_wkb",
) -> DataFrame:
    """Append each point's spherical-cap N-gon as a WKB multipolygon —
    the geometry-column form of :func:`geodesic_buffer_vertices`, built in
    ONE Arrow pass (vectorized (rows, n_vertices) trig, per-row WKB
    assembly), zero shuffles; consumable by the spherical PIP / zonal
    kernels, which lift rings to xyz (pole/antimeridian caps are valid
    there, but NOT as planar lon/lat polygons). The N-gon is inscribed:
    its geodesic area approaches the cap area 2*pi*R^2*(1-cos d) from
    below as n_vertices grows."""
    import math

    import numpy as np

    from pygridmap_spark import util as _util
    from pygridmap_spark.core.sphere import EARTH_RADIUS_KM

    if n_vertices < 3:
        raise ValueError(f"n_vertices must be >= 3, got {n_vertices}")
    if not 0.0 < radius_m < math.pi * EARTH_RADIUS_KM * 1000.0:
        raise ValueError("radius_m must be in (0, pi*R) meters")
    d = radius_m / (EARTH_RADIUS_KM * 1000.0)
    # open ring: the WKB encoder closes it exactly (th=2*pi would land a
    # ulp off th=0 and close it twice)
    th = 2.0 * math.pi * np.arange(n_vertices) / n_vertices
    schema = _util.schema_with(df, f"{out_col} binary")

    def _kernel(batches):
        from pygridmap_spark.core import wkb as WKB

        sin_d, cos_d = math.sin(d), math.cos(d)
        sin_th, cos_th = np.sin(th), np.cos(th)
        for pdf in batches:
            if not len(pdf):
                continue
            p1 = np.radians(pdf[lat].to_numpy(dtype=np.float64))[:, None]
            l1 = np.radians(pdf[lon].to_numpy(dtype=np.float64))[:, None]
            # null/NaN coords -> NULL buffer, never a NaN-vertex WKB (the
            # family's NULL contract; NaN coords would otherwise feed
            # garbage to every downstream spherical kernel)
            ok = np.isfinite(p1[:, 0]) & np.isfinite(l1[:, 0])
            sin_lat2 = np.sin(p1) * cos_d + np.cos(p1) * sin_d * cos_th[None, :]
            vlat = np.degrees(np.arcsin(np.clip(sin_lat2, -1.0, 1.0)))
            vlon = np.degrees(
                l1 + np.arctan2(sin_th[None, :] * sin_d * np.cos(p1),
                                cos_d - np.sin(p1) * sin_lat2)
            )
            vlon -= 360.0 * np.floor((vlon + 180.0) / 360.0)
            pdf = pdf.copy()
            pdf[out_col] = [
                WKB.encode_multipolygon([[np.column_stack([vlon[r], vlat[r]])]])
                if ok[r]
                else None
                for r in range(len(pdf))
            ]
            yield pdf

    return df.mapInPandas(_kernel, schema)
