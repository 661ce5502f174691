"""SparkSession factory tuned for the engine.

Design notes for cluster scale (tested on local[N], designed for 1000
executors): AQE on (runtime coalescing + skew-join splitting), Arrow enabled
for pandas UDFs, broadcast threshold generous so term/corpus stats tables
always broadcast, shuffle partitions sized by caller.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return os.environ["SPARK_LOCAL_DIRS"]
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Local-mode driver heap: ~40% of physical RAM, capped at 48g (the
    driver JVM hosts every executor thread; its off-heap, the Python
    workers and tmpfs spill need the rest)."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{max(1, min(48 * 1024, int(kib * 0.4) // 1024))}m"


def get_spark(
    app_name: str = "search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # shuffle/spill files on tmpfs when available — the sandbox's
        # virtio disk collapses under many concurrent spill writers
        .config("spark.local.dir", _local_dir())
        # v2 committer: task outputs move to the destination at task commit
        # instead of a serial driver-side rename pass at job commit
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
