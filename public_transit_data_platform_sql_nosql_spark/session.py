"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are chosen so the
same logical plans scale to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), explicit shuffle-partition
sizing, Arrow for any pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_DRIVER_MEMORY_CAP_MB = 16 * 1024


def driver_memory_default(meminfo: str, cgroup_max: str | None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    min(16g, 0.6 x the memory limit).  The limit is the cgroup v2
    ``memory.max`` when one is set (``"max"`` means unset), capped by
    ``MemTotal`` from ``meminfo`` (``/proc/meminfo`` text).  A flat 16g
    heap on a 16 GB host lets the driver JVM grow past physical memory
    and be OOM-killed; the 0.4 left over holds the JVM's off-heap, the
    Python workers and the OS."""
    limits = []
    if cgroup_max is not None and cgroup_max.strip().isdigit():
        limits.append(int(cgroup_max.strip()))
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            limits.append(int(line.split()[1]) * 1024)    # kB
    if not limits:
        return f"{_DRIVER_MEMORY_CAP_MB}m"
    mb = int(0.6 * min(limits)) // (1024 * 1024)
    return f"{min(_DRIVER_MEMORY_CAP_MB, mb)}m"


def _read_text(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "transit-analytics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    files_max_partition_bytes: str | None = None,
) -> SparkSession:
    """``files_max_partition_bytes`` sizes file-scan input splits.  Spark's
    128m default assumes many large files; a single-digit-MB single-file
    input (the local bench/test corpus) then scans on 1-3 cores while the
    other 29 idle.  Pass e.g. "2m" to re-engage the full machine on small
    inputs.  Leave None on a real cluster — at 100 TB the default split
    size is right, and shrinking it would explode the task count."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # preferSortMergeJoin stays at its default (true): an r14 A/B at
        # sf0.1 measured the shuffled-hash planner preference as a large
        # NET LOSS on this engine's plans (headline total 45 -> 69 s;
        # ann_knn_join 2.6 -> 10.8, ann_ivf_topk 0.9 -> 4.1,
        # ann_sq8_topk 2.1 -> 5.9) — the ANN/self-join family picks
        # hash-build sides whose per-partition maps cost more than the
        # sorts they replace (opt guide §3.1's caveat).  Revisit only
        # per-join with explicit SHUFFLE_HASH hints, never session-wide.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet uses TIMESTAMP(NANOS); read as long
        # (nanos since epoch) and convert explicitly where needed
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY")
                or driver_memory_default(
                    _read_text("/proc/meminfo") or "",
                    _read_text("/sys/fs/cgroup/memory.max")))
    )
    if files_max_partition_bytes is not None:
        builder = (
            builder.config("spark.sql.files.maxPartitionBytes",
                           files_max_partition_bytes)
            # proportionally cheaper synthetic open cost so the small
            # splits aren't re-merged by the packing heuristic
            .config("spark.sql.files.openCostInBytes", "262144")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
