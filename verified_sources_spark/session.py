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


def default_master() -> str:
    """``local[N]`` with one task slot per core this process may use (its
    CPU affinity), unless ``SPARK_GRAFT_CPUS`` names the count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


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
        # 16g: the sf1 soak measured GC collapse at 8g — 32 executor threads
        # of ObjectHashAggregate state (minhash 19s vs 1s, lsh 16s vs 2.2s)
        # once the working set passed the old heap; a local[32] JVM is the
        # whole cluster, so size it like one (box has 128 GiB)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
