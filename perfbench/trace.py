"""Layer spans, Spark REST deltas and host probes for the benchmark.

Spans are recorded from the benchmark's own code around each call into a
package layer. Each span also sets the Spark job group to its id, so the
jobs, stages and SQL executions a layer triggers can be attributed to it
afterwards from the UI REST endpoints (the executed, final AQE plans live
there; a Python-side ``queryExecution()`` is a never-executed copy).

Spark is lazy: in a traced run the benchmark forces each layer's output
with an eager local checkpoint, so the next layer reads materialised input
and each span holds its own layer's work. The untraced run uses
:class:`NoTrace`, which forces nothing and records nothing.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import threading
import time
import urllib.request
from typing import NamedTuple

SETTLE_S = 10.0  # longest wait for the REST status store to catch up
RSS_INTERVAL_S = 1.0  # PSS sampling period


class NoTrace:
    """Untraced run: spans are no-ops and DataFrames stay lazy."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def force(self, df):
        return df


class Tracer:
    """In-memory span recorder. A span is (id, name, parent, run, start,
    end); ids are ``<run>:<n>`` and double as Spark job-group ids."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]["id"]
                self.sc.setJobGroup(top, top)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def force(self, df):
        return df.localCheckpoint(eager=True)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it covered by child spans
    (children of one span never overlap: the benchmark is one thread)."""
    covered: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in spans}


# --- Spark REST ---------------------------------------------------------------


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.loads(r.read())


def _ts(s: str | None) -> float | None:
    """REST timestamp ('2026-01-01T00:00:00.123GMT') -> epoch seconds."""
    if not s:
        return None
    d = _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=_dt.timezone.utc).timestamp()


def _metric_value(text: str) -> float:
    """SQL metric text -> number: '1,234', '12 ms', '3.1 MiB', or the
    'total (min, med, max ...)\\n<total> (...)' form (the total is taken)."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.replace(",", "").split()
    if not parts:
        return 0.0
    try:
        v = float(parts[0])
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    scale = {
        "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
        "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    }.get(unit, 1)
    return v * scale


class RestSnapshot:
    """All jobs, stages and SQL executions of the application, fetched once
    after the traced work is done and indexed by job group."""

    def __init__(self, spark):
        # the status store is fed by an asynchronous listener bus: wait
        # until no job is running and two reads agree
        deadline = time.time() + SETTLE_S
        prev = None
        while True:
            jobs = _rest(spark, "jobs")
            key = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if (key == prev and key[1] == 0) or time.time() > deadline:
                break
            prev = key
            time.sleep(0.2)
        self.jobs = jobs
        self.stages = {s["stageId"]: s for s in _rest(spark, "stages?status=complete")}
        self.sql = _rest(spark, "sql?details=true&planDescription=false&length=100000")

    def stages_of(self, groups: set[str]) -> list[dict]:
        ids = {sid for j in self.jobs if j.get("jobGroup") in groups for sid in j["stageIds"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def jobs_of(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def sql_of(self, groups: set[str]) -> list[dict]:
        return [q for q in self.sql if q.get("description") in groups]


def engine_totals(snap: RestSnapshot, groups: set[str], t0: float, t1: float) -> dict:
    """Engine-wide counters for the jobs of ``groups`` in the window
    [t0, t1]. ``driver_only_s`` is the window minus the union of stage
    [first task launched, completion] intervals: time no task ran."""
    stages = snap.stages_of(groups)
    spans = []
    for s in stages:
        a, b = _ts(s.get("firstTaskLaunchedTime")), _ts(s.get("completionTime"))
        if a is not None and b is not None:
            spans.append((max(a, t0), min(b, t1)))
    busy, end = 0.0, t0
    for a, b in sorted(spans):
        if b <= end:
            continue
        busy += b - max(a, end)
        end = b
    return {
        "spark.jobs": len(snap.jobs_of(groups)),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "spark.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
        ),
        "spark.driver_only_s": max(t1 - t0 - busy, 0.0),
    }


_JOINS = ("Join", "CartesianProduct")
_PYTHON = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def plan_counts(executions: list[dict]) -> dict:
    """Row and byte counts from executed SQL plans:

    - ``join_rows``: output rows of every join operator,
    - ``py_in_rows`` / ``py_out_rows``: rows into / out of Python (Arrow)
      operators; rows in = output rows of the nearest descendant that
      reports a row count,
    - ``arrow_bytes``: bytes sent to plus returned from Python workers,
    - ``files_read`` / ``partitions_read``: file-scan totals.
    """
    out = dict.fromkeys(
        ("join_rows", "py_in_rows", "py_out_rows", "arrow_bytes", "files_read", "partitions_read"), 0.0
    )
    for q in executions:
        nodes = {n["nodeId"]: n for n in q.get("nodes", [])}
        children: dict[int, list[int]] = {}
        for e in q.get("edges", []):
            children.setdefault(e["toId"], []).append(e["fromId"])
        metrics = {
            i: {m["name"]: _metric_value(str(m["value"])) for m in n.get("metrics", [])}
            for i, n in nodes.items()
        }

        def rows_below(i: int) -> float:
            total = 0.0
            for c in children.get(i, []):
                if "number of output rows" in metrics.get(c, {}):
                    total += metrics[c]["number of output rows"]
                else:
                    total += rows_below(c)
            return total

        for i, n in nodes.items():
            name, m = n["nodeName"], metrics[i]
            if any(k in name for k in _JOINS):
                out["join_rows"] += m.get("number of output rows", 0.0)
            if any(k in name for k in _PYTHON):
                out["py_out_rows"] += m.get("number of output rows", 0.0)
                out["py_in_rows"] += rows_below(i)
                out["arrow_bytes"] += m.get("data sent to Python workers", 0.0)
                out["arrow_bytes"] += m.get("data returned from Python workers", 0.0)
            if name.startswith("Scan"):
                out["files_read"] += m.get("number of files read", 0.0)
                out["partitions_read"] += m.get("number of partitions read", 0.0)
    return out


# --- host probes ----------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (the driver JVM and the
    Python workers are descendants of the benchmark process)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its descendants, including
    their reaped children. The kernel leaves stolen time out, so on a
    shared host this counts the work done, not the wait for a CPU."""
    ticks = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def clock() -> tuple[float, float, int, int]:
    """(wall seconds, process-tree CPU seconds, host steal jiffies, host
    total jiffies) now; see :func:`since`."""
    return (time.perf_counter(), tree_cpu_s(os.getpid()), *cpu_times())


class Elapsed(NamedTuple):
    wall: float
    cpu: float
    steal_share: float  # host CPU-steal share over the interval

    @property
    def unstolen_wall(self) -> float:
        """Wall time less the host's stolen share of it: what the interval
        would have taken had the hypervisor given every vCPU back."""
        return self.wall * (1.0 - self.steal_share)


def since(t0: tuple[float, float, int, int]) -> Elapsed:
    """Time elapsed since a :func:`clock` reading."""
    w, c, steal, total = clock()
    d_total = total - t0[3]
    return Elapsed(w - t0[0], c - t0[1], (steal - t0[2]) / d_total if d_total else 0.0)


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants. PSS splits
    pages shared between forked Python workers instead of counting them
    once per worker."""
    total = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the process tree's proportional resident set on a background
    thread. Once a second: reading the JVM's ``smaps_rollup`` costs tens of
    milliseconds of CPU, which the CPU-time metrics would count."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
