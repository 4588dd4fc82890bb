"""The benchmark's own tests: its references, its failure accounting, and
that a corrupted program result is counted as failed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import reference as ref  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench import suite  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench import workloads as W  # noqa: E402


def test_even_odd_square_with_hole():
    shell = np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], float)
    hole = np.array([(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)], float)
    px = np.array([0.5, 2.0, 3.5, 5.0])
    py = np.array([0.5, 2.0, 3.5, 2.0])
    assert ref.inside_even_odd(px, py, [[shell, hole]]).tolist() == [True, False, True, False]


def test_wkb_roundtrip_and_star_mask_contains_disc():
    ring = ref.star_mask(3, 10.0)
    (parts,) = [ref.wkb_polygons(ref.wkb_polygon(ring))]
    assert np.allclose(parts[0][0][:-1], ring)
    # points on the inscribed disc are inside the mask
    a = np.linspace(0, 2 * math.pi, 200)
    r = 0.79 * 10.0
    assert ref.inside_even_odd(r * np.cos(a), r * np.sin(a), parts).all()


def test_mass_check_rejects_corrupted_total():
    assert ref.mass_conserved(100.0 * (1 + 1e-12), 100.0)
    assert not ref.mass_conserved(100.0 + 1e-3, 100.0)
    assert not ref.mass_conserved(float("nan"), 100.0)


class _Corrupting:
    """A workload whose odd passes return a wrong result; pass 3 raises."""

    def __init__(self):
        self.k = 0

    def run_pass(self, spark, tr, check=True):
        self.k += 1
        if self.k == 3:
            raise RuntimeError("operation raised")
        return T.Elapsed(0.01, 0.02, 0.0), [self.k % 2 == 0]


def test_failed_and_raising_operations_are_counted():
    times, checks = [], []
    R.run_passes(_Corrupting(), None, T.NoTrace(), 0.2, times, checks)
    assert len(checks) >= 5 and len(times) == len(checks)
    # passes 1 and 5 fail their check, pass 3 raised
    assert checks[:5] == [False, True, False, True, False]


def test_benchmark_json_matches_the_code():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to the benchmark")
    with open(path) as fh:
        b = json.load(fh)
    assert [w["name"] for w in b["workloads"]] == list(W.WORKLOADS)
    assert b["run_seconds"] == suite.RUN_SECONDS
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == R.PER_LAYER


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(R.SCRATCH, "work", "test")
    R.configure_environment(work)
    s = R.start_session(traced=False)
    yield s
    R.stop_all(s)
    W.reset_dir(work)


class SmallPages(W.PagesRegionTiles):
    N_PAGES = 2_000
    QUERIES_PER_PASS = 3


class SmallOverlay(W.GridOverlay):
    MASK_RADIUS = 10_000.0
    N_SOURCES = 5


def _run_one_pass(wl, spark) -> list[bool]:
    wl.setup(spark, T.NoTrace())
    wl.reference(spark)
    times, checks = [], []
    R.run_passes(wl, spark, T.NoTrace(), 1e-9, times, checks)
    return checks


def test_pages_pass_is_correct_and_a_dropped_match_fails(spark, monkeypatch):
    from pygridmap_spark.operators import spatialjoin

    work = os.path.join(R.SCRATCH, "work", "test", "pages")
    checks = _run_one_pass(SmallPages(work, seed=4), spark)
    assert len(checks) == 1 + SmallPages.QUERIES_PER_PASS and all(checks)
    real = spatialjoin.polygon_pip_join
    # a join that loses every match of region 0
    monkeypatch.setattr(
        spatialjoin, "polygon_pip_join",
        lambda *a, **k: real(*a, **k).filter("poly_id != 0"),
    )
    checks = _run_one_pass(SmallPages(work, seed=4), spark)
    assert not checks[0]


def test_overlay_pass_is_correct_and_lost_mass_fails(spark, monkeypatch):
    from pygridmap_spark.operators import overlay

    work = os.path.join(R.SCRATCH, "work", "test", "overlay")
    assert _run_one_pass(SmallOverlay(work, seed=4), spark) == [True]
    real = overlay.area_interpolate
    monkeypatch.setattr(
        overlay, "area_interpolate",
        lambda *a, **k: real(*a, **k).withColumn("pop", F.col("pop") * 0.999),
    )
    assert _run_one_pass(SmallOverlay(work, seed=4), spark) == [False]
