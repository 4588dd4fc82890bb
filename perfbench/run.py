"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the root of a checkout (the package is imported from
that checkout, never from elsewhere). Set-up is the Spark session start,
plus the median of ``SETUPS`` repeated input generations, plus
``WARMUP_PASSES`` unchecked passes; then passes run until ``--seconds``
have elapsed, at least one.
Every checked result is compared with an independent reference.

``--trace 0`` prints the end-to-end metrics: set-up and pass CPU seconds of
the benchmark process, the driver JVM and its Python workers, the pass wall
time less the host's CPU steal, and the peak PSS of that process tree.
``--trace 1`` runs the same untraced passes, then as long again traced
passes (UI/REST on, each layer's output forced), prints the per-layer
metrics and writes the spans and a per-layer table under
``.perfbench/trace/``. The last stdout
line is one JSON object with the keys correct, attempted, failed and
metrics; a ``diag`` line before it carries the raw wall times and the host
CPU-steal shares.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from perfbench import trace as T  # noqa: E402
from perfbench.workloads import WORKLOADS, reset_dir  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench")
SETUPS = 3
WARMUP_PASSES = 1  # JIT and Python workers warm up during the first pass
DRIVER_MEMORY = "2g"

# On a host with CPU steal, raw wall time measures the neighbours as much
# as the program (see README.md): wall time is gated with the stolen share
# taken out, work is gated as process-tree CPU seconds.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "unstolen_wall_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.scan_s": "s",
    "functions.self_s": "s",
    "spatialjoin.self_s": "s",
    "spatialjoin.candidate_rows": "count",
    "spatialjoin.exact_rows": "count",
    "spatialjoin.matched_rows": "count",
    "spatialjoin.match_ratio": "ratio",
    "gridding.self_s": "s",
    "gridding.cells_out": "count",
    "gridding.exact_cells": "count",
    "gridding.exact_share": "ratio",
    "overlay.self_s": "s",
    "overlay.candidate_pairs": "count",
    "overlay.pieces": "count",
    "overlay.piece_ratio": "ratio",
    "overlay.arrow_bytes": "bytes",
    "tiler.aggregate_self_s": "s",
    "tiler.rows_in.l1": "count",
    "tiler.rows_out.l1": "count",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.tile_dirs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.read_plan_s": "s",
    "sinks.read_exec_s": "s",
    "sinks.files_scanned": "count",
    "sinks.partitions_read": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_only_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}

# ratio metric -> (numerator, base)
RATIOS = {
    "spatialjoin.match_ratio": ("spatialjoin.matched_rows", "spatialjoin.candidate_rows"),
    "gridding.exact_share": ("gridding.exact_cells", "gridding.cells_out"),
    "overlay.piece_ratio": ("overlay.pieces", "overlay.candidate_pairs"),
}


def configure_environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    inside the checkout, and import the package from the checkout only."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(SCRATCH, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the launcher JVM that spark-submit runs first gets no driver options
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    import pygridmap_spark

    found = os.path.dirname(os.path.abspath(pygridmap_spark.__file__))
    if found != os.path.join(ROOT, "pygridmap_spark"):
        raise SystemExit(f"pygridmap_spark imported from {found}, not from {ROOT}")
    reset_dir(work)


def start_session(traced: bool):
    from pygridmap_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(SCRATCH, "tmp")
    conf = {
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # split scans finely enough to feed every core
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return get_spark(app="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def stop_all(spark) -> None:
    """Stop Spark, end the driver JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    pids = T.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in pids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def run_passes(wl, spark, tr, seconds: float, times: list, checks: list) -> None:
    """Run passes until ``seconds`` elapse, at least one. A pass that raises
    counts as one failed check, with its elapsed time; the loop goes on."""
    deadline = time.perf_counter() + seconds
    while not times or time.perf_counter() < deadline:
        t0 = T.clock()
        try:
            elapsed, ok = wl.run_pass(spark, tr)
        except Exception:  # a failing operation is measured, not fatal
            traceback.print_exc()
            elapsed, ok = T.since(t0), [False]
        times.append(elapsed)
        checks.extend(ok)


def layer_metrics(wl, setup_spans, tracers, snap, session_start, untraced, traced) -> dict:
    """Per-layer numbers from the traced passes: medians over passes of each
    pass's layer self times, plan counts and engine totals."""
    med = statistics.median
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = session_start
    out["sources.generate_s"] = med(
        s["end"] - s["start"] for s in setup_spans if s["name"] == "sources.generate"
    )
    per_pass: list[dict] = []
    queries: dict[str, list[float]] = {
        "sinks.read_plan_s": [], "sinks.read_exec_s": [],
        "sinks.files_scanned": [], "sinks.partitions_read": [],
    }
    for tr in tracers:
        spans = tr.spans
        selft = T.self_times(spans)

        def self_of(prefix: str) -> float:
            return sum(selft[s["id"]] for s in spans if s["name"].startswith(prefix))

        def plans_of(prefix: str) -> dict:
            ids = {s["id"] for s in spans if s["name"].startswith(prefix)}
            return T.plan_counts(snap.sql_of(ids))

        root = spans[0]
        p = T.engine_totals(snap, {s["id"] for s in spans}, root["start"], root["end"])
        p["sources.scan_s"] = self_of("sources.scan")
        p["functions.self_s"] = self_of("functions.")
        p["spatialjoin.self_s"] = self_of("spatialjoin.")
        p["gridding.self_s"] = self_of("gridding.")
        p["overlay.self_s"] = self_of("overlay.")
        p["tiler.aggregate_self_s"] = self_of("tiler.grid_aggregation")
        p["sinks.write_s"] = self_of("sinks.grid_tiling")
        sj = plans_of("spatialjoin.")
        p["spatialjoin.candidate_rows"] = sj["join_rows"]
        p["spatialjoin.exact_rows"] = sj["py_in_rows"]
        p["gridding.exact_cells"] = plans_of("gridding.")["py_in_rows"]
        ov = plans_of("overlay.")
        p["overlay.candidate_pairs"] = ov["py_in_rows"]
        p["overlay.pieces"] = ov["py_out_rows"]
        p["overlay.arrow_bytes"] = ov["arrow_bytes"]
        per_pass.append(p)
        for s in spans:
            if s["name"] == "sinks.read_tiles_window":
                queries["sinks.read_plan_s"].append(s["end"] - s["start"])
            elif s["name"] == "sinks.read_exec":
                queries["sinks.read_exec_s"].append(s["end"] - s["start"])
                c = T.plan_counts(snap.sql_of({s["id"]}))
                queries["sinks.files_scanned"].append(c["files_read"])
                queries["sinks.partitions_read"].append(c["partitions_read"])
    for k in per_pass[0]:
        out[k] = med(p[k] for p in per_pass)
    for k, v in queries.items():
        if v:
            out[k] = med(v) if k.endswith("_s") else statistics.fmean(v)
    out.update(wl.stats)
    for k, (num, base) in RATIOS.items():
        out[k] = out[num] / out[base] if out[base] else 0.0
    out["trace.untraced_wall_s"] = med(untraced)
    out["trace.traced_wall_s"] = med(traced)
    out["trace.overhead_s"] = out["trace.traced_wall_s"] - out["trace.untraced_wall_s"]
    return out


def write_trace_artifacts(name: str, seed: int, spans: list[dict], metrics: dict) -> str:
    """Spans JSON plus a per-layer table (markdown) for one workload."""
    d = os.path.join(SCRATCH, "trace")
    os.makedirs(d, exist_ok=True)
    stem = os.path.join(d, f"{name}-seed{seed}")
    selft = T.self_times(spans)
    with open(stem + ".spans.json", "w") as fh:
        json.dump([{**s, "self_s": selft[s["id"]]} for s in spans], fh, indent=1)
    lines = [
        f"# {name}, seed {seed}: per-layer metrics (median over traced passes)",
        "",
        "| metric | value | unit | base |",
        "|---|---|---|---|",
    ]
    for k, unit in PER_LAYER.items():
        base = f"{RATIOS[k][1]} = {metrics[RATIOS[k][1]]:.6g}" if k in RATIOS else ""
        lines.append(f"| {k} | {metrics[k]:.6g} | {unit} | {base} |")
    with open(stem + ".layers.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return stem


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    cls = WORKLOADS[args.workload]
    work = os.path.join(SCRATCH, "work", f"{cls.name}-seed{args.seed}")
    configure_environment(work)
    wl = cls(work, args.seed)
    spark = None
    gens, setup_spans = [], []
    # peak memory of the whole run: the Python-worker count and the heap
    # settle over several passes, so a peak over one pass would wander
    rss = T.PeakRss()
    try:
        rss.start()
        t0 = T.clock()
        spark = start_session(traced)
        session = T.since(t0)
        for k in range(SETUPS):
            tr = T.Tracer(spark, f"setup{k}") if traced else T.NoTrace()
            t0 = T.clock()
            wl.setup(spark, tr)
            gens.append(T.since(t0))
            setup_spans += tr.spans if traced else []
        t0 = T.clock()
        for _ in range(WARMUP_PASSES):
            wl.run_pass(spark, T.NoTrace(), check=False)
        warmup = T.since(t0)
        # set-up: session + median generation + warm-up passes
        setup_wall = session.wall + statistics.median(g.wall for g in gens) + warmup.wall
        setup_cpu = session.cpu + statistics.median(g.cpu for g in gens) + warmup.cpu
        wl.reference(spark)

        t_run = T.clock()
        times, checks, traced_walls, tracers = [], [], [], []
        run_passes(wl, spark, T.NoTrace(), args.seconds, times, checks)
        if traced:
            deadline = time.perf_counter() + args.seconds
            while not tracers or time.perf_counter() < deadline:
                tr = T.Tracer(spark, f"pass{len(tracers)}")
                elapsed, ok = wl.run_pass(spark, tr)
                traced_walls.append(elapsed.wall)
                checks.extend(ok)
                tracers.append(tr)
        rss.stop()
        run_steal = T.since(t_run).steal_share
        failed = sum(not ok for ok in checks)
        walls = [t.wall for t in times]
        if traced:
            snap = T.RestSnapshot(spark)
            metrics = layer_metrics(wl, setup_spans, tracers, snap, session.wall, walls, traced_walls)
            units = PER_LAYER
            stem = write_trace_artifacts(
                cls.name, args.seed, setup_spans + [s for t in tracers for s in t.spans], metrics
            )
        else:
            metrics = {
                "setup_s": setup_cpu,
                "cpu_s": statistics.median(t.cpu for t in times),
                "unstolen_wall_s": statistics.median(t.unstolen_wall for t in times),
                "peak_rss_mb": rss.peak / 1e6,
            }
            units = END_TO_END
            stem = None
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    diag = {
        "workload": cls.name,
        "seed": args.seed,
        "unit": cls.unit,
        "units_per_pass": wl.units,
        "setup_wall_s": setup_wall,
        "session_wall_s": session.wall,
        "generate_wall_s": [g.wall for g in gens],
        "warmup_wall_s": warmup.wall,
        "pass_walls_s": walls + traced_walls,
        "pass_cpus_s": [t.cpu for t in times],
        "pass_steal_shares": [t.steal_share for t in times],
        "steal_share": run_steal,
        "trace_files": stem,
    }
    print("diag " + json.dumps(diag))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(checks),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
