"""Run every workload for one or more seeds and summarise.

    python3 perfbench/suite.py --seeds 1                # all workloads, one seed
    python3 perfbench/suite.py --seeds 1 2 3 4 5        # steadiness report
    python3 perfbench/suite.py --seeds 1 --trace 1      # per-layer tables

Each run is a separate ``perfbench/run.py`` process, exactly as the
benchmark is invoked. With one seed it prints every metric by name and unit
per workload, with ``failed_ratio`` (failed / attempted operations). With
several seeds it prints, per workload and metric, the median, first and
third quartiles and (q3 - q1) / median, and each run's host CPU-steal share
(a diagnostic: steal does not gate anything). With ``--trace 1`` each run
also writes ``.perfbench/trace/<workload>-seed<n>.spans.json`` and
``.layers.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN_SECONDS = 4  # BENCHMARK.json run_seconds


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """One benchmark process -> (diag, result). Raises on a failed run."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    diag = next((json.loads(x[5:]) for x in lines if x.startswith("diag ")), {})
    diag["elapsed_s"] = time.perf_counter() - t0
    return diag, json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median), quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    ok = True
    for w in WORKLOADS:
        runs = []
        for seed in args.seeds:
            diag, res = run_once(w, seed, args.trace)
            runs.append((diag, res))
            ratio = res["failed"] / res["attempted"]
            ok &= res["correct"] and res["failed"] == 0
            print(
                f"{w} seed={seed} attempted={res['attempted']} failed={res['failed']} "
                f"failed_ratio={ratio:.6g} steal_share={diag.get('steal_share', 0):.4f} "
                f"elapsed_s={diag['elapsed_s']:.1f} setup_wall_s={diag.get('setup_wall_s', 0):.2f} "
                f"pass_walls_s={[round(x, 3) for x in diag.get('pass_walls_s', [])]} "
                f"pass_cpus_s={[round(x, 3) for x in diag.get('pass_cpus_s', [])]} "
                f"pass_steal_shares={[round(x, 4) for x in diag.get('pass_steal_shares', [])]}",
                flush=True,
            )
            if len(args.seeds) == 1:
                for k, m in res["metrics"].items():
                    print(f"  {k:32s} {m['value']:14.6g} {m['unit']}")
                if diag.get("trace_files"):
                    print(f"  trace: {diag['trace_files']}.spans.json, .layers.md")
        if len(args.seeds) > 1:
            print(f"{w}: {len(runs)} runs   median  q1  q3  (q3-q1)/median")
            for k, m in runs[0][1]["metrics"].items():
                vals = [r["metrics"][k]["value"] for _, r in runs]
                med, q1, q3, sp = spread(vals)
                print(f"  {k:32s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.4f} {m['unit']}")
                print(f"    runs: {[float(f'{v:.4g}') for v in vals]}")
            print(f"  steal_share per run: {[round(d.get('steal_share', 0), 4) for d, _ in runs]}")
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
