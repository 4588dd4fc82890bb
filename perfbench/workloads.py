"""The benchmark workloads, driven through the package's public API.

Each workload has ``setup`` (generate inputs; its time is part of the
set-up cost), ``reference`` (the independent expected results, computed once
per seed after set-up and never timed) and ``run_pass`` (one timed pass).
A pass returns ``(elapsed, checks)``: its :class:`trace.Elapsed` (wall time,
process-tree CPU time, host steal share), and one boolean per checked
result (the warm-up passes skip the checks). ``units`` is the work one pass
completes, reported with the run's diagnostics.

Sizes are fixed constants so runs on the parent and the child of a change
compare the same work; the seed only moves the inputs.
"""

from __future__ import annotations

import math
import os
import random
import shutil

from pyspark.sql import functions as F

from perfbench import reference as ref
from perfbench import trace as T


def tree_stats(folder: str) -> dict:
    """Files, (xt, yt) tile directories and bytes of a written tile tree
    (hidden checksum files excluded)."""
    files = dirs = size = 0
    for root, subdirs, names in os.walk(folder):
        dirs += sum(d.startswith("yt=") for d in subdirs)
        for n in names:
            if n.startswith("."):
                continue
            files += n.startswith("part-")
            size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "tile_dirs": dirs, "bytes": size}


class PagesRegionTiles:
    """Crawl to tiles, then serve: pages -> geolocation -> polygon join ->
    per-cell page counts and text bytes -> pyramid level -> tile trees,
    then one client reading seeded windows of the base tree just written,
    each query after the previous one. The pass is timed from the scan to
    the last window answer; every tree and every window is checked."""

    name = "pages_region_tiles"
    # below this size per-job costs hide the per-page work; above it a run
    # outgrows its time budget (README.md, "Input size")
    N_PAGES = 1_000_000
    N_REGIONS = 24
    ZOOM = 6  # cover-cell zoom of the polygon join
    RES = 1.0  # base cell size, degrees
    TILE = 32  # cells per tile side
    LEVELS = (1,)  # pyramid levels above the base, each 2^level coarser
    QUERIES_PER_PASS = 8  # about a quarter of a pass: read regressions show
    N_WINDOWS = 300  # seeded window stream; the loop cycles through it
    unit = "pages"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.salt = f"#s{seed}"
        self.pages_path = os.path.join(work, "pages")
        self.units = self.N_PAGES
        self.next = 0
        self.stats: dict = {}
        rng = random.Random(seed)
        self.windows = []
        for _ in range(self.N_WINDOWS):
            # mixed sizes: log-uniform sides from 4 to 128 degrees, whole
            # cells, inside the populated extent lon [-180, 180), lat [-60, 70)
            w = int(2 ** rng.uniform(2, 7))
            h = int(2 ** rng.uniform(2, 7))
            x0 = rng.randrange(-180, 180 - w + 1)
            y0 = rng.randrange(-60, 70 - h + 1)
            self.windows.append((x0, y0, x0 + w, y0 + h))

    def setup(self, spark, tr) -> None:
        from pygridmap_spark.sources import pages, polygons

        with tr.span("sources.generate"):
            df = pages.pages(spark, self.N_PAGES).withColumn(
                "url", F.concat(F.col("url"), F.lit(self.salt))
            )
            df.write.mode("overwrite").parquet(self.pages_path)
            self.regions = polygons.synthetic_polygons(
                spark, n=self.N_REGIONS, bbox=(-180.0, -60.0, 180.0, 70.0), seed=self.seed
            ).localCheckpoint(eager=True)

    def reference(self, spark) -> None:
        wkbs = [bytes(r[0]) for r in self.regions.select("geometry").collect()]
        lat, lon = ref.url_lat_lon([ref.page_url(i, self.salt) for i in range(self.N_PAGES)])
        hits = ref.matches_per_point(lon, lat, wkbs)
        self.expected = int(hits.sum())
        m = hits > 0
        self.hit_lon, self.hit_lat, self.hits = lon[m], lat[m], hits[m]

    def expected_window(self, k: int) -> int:
        """Matched (page, region) pairs whose page falls in window ``k``."""
        x0, y0, x1, y1 = self.windows[k]
        lon, lat = self.hit_lon, self.hit_lat
        return int(self.hits[(lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)].sum())

    def _level_dir(self, level: int) -> str:
        return os.path.join(self.work, "tiles", f"l{level}")

    def run_pass(self, spark, tr, check: bool = True):
        from pygridmap_spark.functions import geolocate
        from pygridmap_spark.functions import tiling as TF
        from pygridmap_spark.operators import spatialjoin, tiler
        from pygridmap_spark.sources import sinks

        t0 = T.clock()
        with tr.span("pass"):
            with tr.span("sources.scan"):
                pg = tr.force(spark.read.parquet(self.pages_path).select("url", "text"))
            with tr.span("functions.geolocate"):
                geo = tr.force(geolocate.with_geolocation(pg))
            with tr.span("spatialjoin.polygon_pip_join"):
                hits = tr.force(
                    spatialjoin.polygon_pip_join(spark, geo, self.regions, z=self.ZOOM)
                )
            with tr.span("functions.cell_counts"):
                # every pyramid level reads the base cells: materialise once
                base = (
                    TF.with_agg_cell(hits, self.RES, x="lon", y="lat")
                    .groupBy(F.col("xa").alias("x"), F.col("ya").alias("y"))
                    .agg(
                        F.count(F.lit(1)).alias("pages"),
                        F.sum(F.octet_length("text")).alias("text_bytes"),
                    )
                    .localCheckpoint(eager=True)
                )
            levels = [(0, base)]
            for lv in self.LEVELS:
                with tr.span(f"tiler.grid_aggregation.l{lv}"):
                    levels.append((lv, tr.force(tiler.grid_aggregation(base, self.RES, 2**lv))))
            for lv, df in levels:
                with tr.span(f"sinks.grid_tiling.l{lv}"):
                    tiler.grid_tiling(df, self._level_dir(lv), self.RES * 2**lv, self.TILE)
            answers = []
            for _ in range(self.QUERIES_PER_PASS):
                k = self.next % self.N_WINDOWS
                self.next += 1
                x0, y0, x1, y1 = self.windows[k]
                with tr.span("query"):
                    with tr.span("sinks.read_tiles_window"):
                        df = sinks.read_tiles_window(spark, self._level_dir(0), (x0, y0, x1, y1))
                    with tr.span("sinks.read_exec"):
                        # stored x/y are in-tile cell positions
                        gx = F.col("xt") * self.TILE + F.col("x")
                        gy = F.col("yt") * self.TILE + F.col("y")
                        got = (
                            df.filter((gx >= x0) & (gx < x1) & (gy >= y0) & (gy < y1))
                            .agg(F.sum("pages"))
                            .collect()[0][0]
                        )
                answers.append((k, got or 0))
            elapsed = T.since(t0)
        # counts and checks run outside the pass span: they are not its work
        if tr.enabled:
            self._count_layers(hits, levels)
        if not check:
            return elapsed, []
        checks = [self.check_trees(spark)]
        checks += [got == self.expected_window(k) for k, got in answers]
        return elapsed, checks

    def _count_layers(self, hits, levels) -> None:
        self.stats = {"spatialjoin.matched_rows": hits.count()}
        rows_in = levels[0][1].count()
        for lv, df in levels[1:]:
            self.stats[f"tiler.rows_in.l{lv}"] = rows_in
            self.stats[f"tiler.rows_out.l{lv}"] = df.count()
        trees = [tree_stats(self._level_dir(lv)) for lv, _ in levels]
        self.stats["sinks.files_written"] = sum(t["files"] for t in trees)
        self.stats["sinks.tile_dirs"] = sum(t["tile_dirs"] for t in trees)
        self.stats["sinks.bytes_written"] = sum(t["bytes"] for t in trees)

    def check_trees(self, spark) -> bool:
        """Every level's tile tree, read back, sums to the reference count."""
        from pygridmap_spark.sources import sinks

        return all(
            sinks.read_tiles(spark, self._level_dir(lv)).agg(F.sum("pages")).collect()[0][0]
            == self.expected
            for lv in (0, *self.LEVELS)
        )


class GridOverlay:
    """grid_maker (qtree) over a seeded mask, then area_interpolate of a
    seeded source-polygon attribute onto the cells."""

    name = "grid_overlay"
    # ~50k cells and 200 sources: below this size per-task costs hide the
    # kernels; above it a run outgrows its time budget (README.md)
    MASK_RADIUS = 140_000.0  # metres
    CELL = 1_000.0  # metres
    N_SOURCES = 200
    unit = "target cells"

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.stats: dict = {}

    def setup(self, spark, tr) -> None:
        from pygridmap_spark.sources import polygons

        with tr.span("sources.generate"):
            ring = ref.star_mask(self.seed, self.MASK_RADIUS)
            self.mask = spark.createDataFrame(
                [(0, ref.wkb_polygon(ring))], "poly_id long, geometry binary"
            )
            # cell corners on multiples of the cell size, as statistical
            # grids have them. With the mask's own float extent as origin,
            # qtree mode loops forever on some seeds (README.md, findings)
            c = self.CELL
            xs, ys = [x for x, _ in ring], [y for _, y in ring]
            self.bbox = [
                math.floor(min(xs) / c) * c, math.floor(min(ys) / c) * c,
                math.ceil(max(xs) / c) * c, math.ceil(max(ys) / c) * c,
            ]
            # sources sit well inside the disc the star mask contains, so
            # every source is fully covered by grid cells (mass conserved)
            h = 0.5 * self.MASK_RADIUS
            self.sources = polygons.synthetic_polygons(
                spark, n=self.N_SOURCES, bbox=(-h, -h, h, h), seed=self.seed, with_multi=False
            ).localCheckpoint(eager=True)

    def reference(self, spark) -> None:
        from pygridmap_spark.operators import gridding

        self.units = gridding.grid_maker(
            spark, self.mask, cell=(self.CELL, self.CELL), bbox=self.bbox, mode="qtree"
        ).count()
        rows = self.sources.select("geometry", "pop").collect()
        disc = 0.79 * self.MASK_RADIUS
        if not all(ref.parts_inside_disc(ref.wkb_polygons(bytes(r[0])), disc) for r in rows):
            raise RuntimeError("benchmark input error: a source polygon leaves the mask")
        self.expected = sum(r[1] for r in rows)

    def run_pass(self, spark, tr, check: bool = True):
        from pygridmap_spark.operators import gridding, overlay

        t0 = T.clock()
        with tr.span("pass"):
            with tr.span("gridding.grid_maker"):
                # grid_maker emits __x__/__y__; overlay reads x/y
                cells = tr.force(
                    gridding.grid_maker(
                        spark, self.mask, cell=(self.CELL, self.CELL), bbox=self.bbox, mode="qtree"
                    ).withColumnsRenamed({"__x__": "x", "__y__": "y"})
                )
            with tr.span("overlay.area_interpolate"):
                out = overlay.area_interpolate(spark, self.sources, cells, ["pop"])
                total = out.agg(F.sum("pop")).collect()[0][0]
            elapsed = T.since(t0)
        if tr.enabled:
            self.stats = {"gridding.cells_out": cells.count()}
        return elapsed, [self.check(total)] if check else []

    def check(self, total) -> bool:
        return total is not None and ref.mass_conserved(total, self.expected)


WORKLOADS = {w.name: w for w in (PagesRegionTiles, GridOverlay)}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
