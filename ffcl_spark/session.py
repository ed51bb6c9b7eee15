"""SparkSession factory tuned for the engine.

Local-mode defaults match the sandbox (single JVM); the same settings
are what we would submit with ``spark-submit --py-files`` on a real
cluster — AQE on (runtime re-plan + skew-join splitting), Arrow on
(vectorized pandas UDF transfer), shuffle partitions sized to cores
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory() -> str:
    """Driver heap when ``FFCL_DRIVER_MEM`` is unset: a quarter of RAM.

    Local mode runs every task in the driver JVM, and the JVM grows its
    heap (and its direct buffers, which default to the heap size) before
    it runs a full GC, so a heap sized past the host's RAM lets one
    long-lived session outgrow it. The quarter is clamped to 1g..48g;
    when ``/proc/meminfo`` cannot be read the 48g cap is used.
    """
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, total_kb // 4096))}m"


def get_spark(
    app_name: str = "ffcl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("FFCL_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1/§9): the engine's
        # equi-joins feed either an immediate filter (candidate
        # verification) or a partial aggregation — sorting both sides
        # first is pure overhead. Scale-safe: the SHJ size conditions
        # still gate the choice, and AQE re-plans at runtime.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("FFCL_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
