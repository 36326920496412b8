"""SparkSession factory with scale-ready defaults.

Tuned for the sandbox (local[N], single JVM) but every setting is the one we
would ship to a 1000-executor cluster: AQE on (coalesce + skew-join), small
broadcast threshold raised for the lexicon/hierarchy dims, Arrow enabled for
the pandas-UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the machine's memory, capped at 24g (the old fixed default,
    which is what a machine without ``meminfo`` still gets). In local mode
    the driver JVM also runs every task, but the Python workers, the page
    cache and the OS need the other half: a 24g heap on a 15 GB machine got
    the JVM killed by the kernel."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{min(total_kb // 2048, _MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "pmcanalysis-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism; defaults to $SPARK_GRAFT_CPUS or the CPU count.
    shuffle_partitions: defaults to cores (right-sized for local mode; on a
    real cluster this would be ~2-3x total executor cores, and AQE coalesces
    down from there anyway).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # permissive numeric semantics: x/0 -> NULL, log(<=0) -> NULL.
        # Matches DuckDB's NULL-on-divide-by-zero and stands in for the
        # reference's java.lang.Double NaN/Inf (undefined is undefined).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local mode: one JVM hosts all executor threads, so the heap holds
        # every concurrent task's shuffle/cache buffers; $SPARK_DRIVER_MEM
        # overrides the machine-sized default
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
