"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs mirror what a 1000-executor cluster submit would set via
spark-submit --conf: AQE on (runtime skew-join splitting + partition
coalescing), Arrow transport on for the pandas-UDF exact-geometry phase,
shuffle partitions sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory(physical: int, cgroup: int | None = None) -> str:
    """Default driver heap: 40% of the host's memory (of its cgroup limit
    when lower), at most 24g and at least 1g. A heap the host cannot back
    gets the JVM OOM-killed once G1 grows into it in a long session."""
    return f"{max(1024, min(24 * 1024, int(0.4 * min(physical, cgroup or physical)) >> 20))}m"


def _cgroup_memory() -> int | None:
    """The cgroup v2 (else v1) memory limit in bytes; None when unlimited."""
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        if os.path.exists(path):
            with open(path) as f:
                raw = f.read().strip()
            return int(raw) if raw.isdigit() else None  # v2 writes "max"
    return None


def get_spark(
    app: str = "pygridmap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    import re

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local[N] -> N threads; anything else (yarn, spark://, local[*])
    # falls back to the host cpu count for the shuffle-width default.
    m = re.fullmatch(r"local\[(\d+)\]", master)
    n_threads = int(m.group(1)) if m else cpus
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"), _cgroup_memory()
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
