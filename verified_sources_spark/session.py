"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces.  On a real cluster set it to ~2-3x total cores.
- Arrow enabled so any pandas-UDF fallback path is batch-columnar.
- UTC session timezone so timestamp semantics are reproducible across
  engines (the DuckDB oracle is naive/UTC).  This is an engine-wide
  contract: ``catalog.load_table`` re-pins it (session-wide) even on
  sessions not built here, so any code sharing a session with this
  engine sees UTC timestamp semantics.
- ``nanosAsLong``: the driver's ``events`` table stores ``timestamp[ns]``
  which Spark's vectorized parquet reader refuses; we read the raw int64
  and convert (see catalog.load_tables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# the largest default heap: the sf1 soak measured GC collapse at 8g — 32
# executor threads of ObjectHashAggregate state (minhash 19s vs 1s, lsh
# 16s vs 2.2s) once the working set passed the old heap; a local[32] JVM
# is the whole cluster, so on a large host it gets a cluster's heap
MAX_DRIVER_MEMORY_MB = 16 * 1024


def default_master() -> str:
    """``local[N]`` with one task slot per core this process may use (its
    CPU affinity), unless ``SPARK_GRAFT_CPUS`` names the count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def host_memory_bytes() -> int | None:
    """Memory this process may use: the smallest of its cgroup limits (v2
    ``memory.max`` or v1 ``memory.limit_in_bytes``, at the mount root and
    at the process's own cgroup; "max" or a page-rounded 2**63 means
    none) and the host's ``MemTotal``; None when none can be read."""
    own = {"": "", "memory": ""}
    try:
        with open("/proc/self/cgroup") as f:
            for line in f:
                _, controllers, path = line.rstrip("\n").split(":", 2)
                for c in controllers.split(",") if controllers else [""]:
                    own[c] = path.rstrip("/")
    except (OSError, ValueError):
        pass
    sizes = []
    for path in {
        "/sys/fs/cgroup/memory.max",
        f"/sys/fs/cgroup{own['']}/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
        f"/sys/fs/cgroup/memory{own['memory']}/memory.limit_in_bytes",
    }:
        try:
            with open(path) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():
            sizes.append(int(v))
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    sizes.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    return min(sizes) if sizes else None


def default_driver_memory() -> str:
    """``spark.driver.memory`` unless ``SPARK_DRIVER_MEMORY`` names it:
    half of :func:`host_memory_bytes` (the Python workers, Arrow
    buffers and the page cache share the rest; with no swap a heap that
    can outgrow the memory gets the process killed instead of
    collected), at least 1g and at most ``MAX_DRIVER_MEMORY_MB``, which
    is also the answer when the memory is unknowable."""
    mem = host_memory_bytes()
    if mem is None:
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{min(MAX_DRIVER_MEMORY_MB, max(1024, mem // 2 // 2**20))}m"


def get_spark(
    app_name: str = "verified-sources-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or default_master()
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
