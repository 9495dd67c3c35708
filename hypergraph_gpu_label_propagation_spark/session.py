"""SparkSession construction with scale-appropriate defaults.

Local mode is the test harness; the same settings are what we'd submit
cluster-side (AQE on, skew-join handling on, Arrow for the vectorized
UDF paths, shuffle partitions sized to parallelism rather than the
legacy 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """spark.driver.memory when SPARK_DRIVER_MEMORY is unset: physical
    RAM - 4 GiB, at most 16 GiB.  The 4 GiB is the headroom
    tools/validate_entry.py::split_memory derives: ~1 GiB JVM off-heap
    (metaspace, code cache, thread stacks, netty buffers) plus ~3 GiB
    for the Python driver process.  plans/tuning.py::fits_broadcast
    sizes its budget from this heap, so a heap larger than the host
    would allow broadcasts the host cannot back.  Not half of RAM: on a
    15.7 GiB host that heap's budget would put sf1's 11.96M pairs on
    the shuffle path (BENCH_SCALING.md "One broadcast rule")."""
    ram_mib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    return f"{max(1024, min(16 << 10, ram_mib - (4 << 10)))}m"


def get_spark(
    app_name: str = "hypergraph_lp_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # keep stage progress bars out of stdout/stderr: they interleave
        # \r fragments into bench/validate output lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # keep catalog artifacts (managed-table warehouse, derby metastore)
    # out of the repo; stale locations from dead sessions otherwise
    # collide with saveAsTable (LOCATION_ALREADY_EXISTS)
    builder = builder.config(
        "spark.sql.warehouse.dir",
        os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/hg_spark_warehouse"),
    )
    # shuffle files on tmpfs when available: local-mode shuffles are
    # disk-IO bound otherwise and parallelism doesn't scale (on a real
    # cluster each executor brings its own disks/bandwidth)
    shm = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
