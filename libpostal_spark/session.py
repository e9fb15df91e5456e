"""SparkSession factory with the engine's required configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _tune_malloc() -> None:
    """Keep large numpy temps on the reusable glibc heap instead of mmap.

    Fresh mmap pages pay first-touch fault cost on EVERY pandas-UDF batch
    (numpy frees >128K buffers back to the kernel by default); measured ~10×
    slowdown of the featurize hot loop in this environment. Must run before
    the JVM gateway spawns so Python workers inherit the env.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483648")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "2147483648")


def _export_pythonpath() -> None:
    """Make the package importable in local-mode Python workers regardless of
    the driver's cwd (workers inherit the ENV, not the driver's sys.path).
    On a cluster, spark-submit --py-files does this job instead."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + current if current else "")
        )


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when SPARK_DRIVER_MEM is unset: 16g, capped
    at half of physical memory in whole GiB (at least 1g), so a machine
    smaller than 32 GiB does not hand the JVM a heap the kernel will
    OOM-kill it for. Falls back to 16g if ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, min(16, kib // 2 // (1 << 20)))}g"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(
    app_name: str = "libpostal_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _tune_malloc()
    _export_pythonpath()
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cores
    # exactly one shuffle partition per core: at local[1]/local[2] the
    # old floor of 8 meant 8 sequential tiny tasks per stage — pure
    # scheduling + python-worker-roundtrip overhead with zero parallelism
    shuffle_partitions = 32 if n == "*" else max(2, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # 64m default over-coalesces CPU-heavy stages (array intersects,
        # pandas UDFs) whose cost is not proportional to partition bytes
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # Heap sizing on this substrate: first-touch page faults serialize
        # host-side, so the JVM's PAGE FOOTPRINT matters more than heap
        # headroom. A huge heap lets G1's eden wander across tens of GB of
        # fresh regions (measured: an -Xms48g pin drove RSS to ~35 GB and
        # slowed the same workload ~2×); a compact heap forces region
        # reuse over hot, already-resident pages. 16g comfortably fits the
        # bench corpora and caches (capped at half of physical memory, see
        # _default_driver_mem); override with SPARK_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # constraint propagation is O(plan²) driver work and this engine's
        # plans are wide (multi-branch unions over windows); every predicate
        # it could infer is already written explicitly, so disabling it cuts
        # ~25% off per-run Catalyst time (measured) with identical plans
        .config("spark.sql.constraintPropagation.enabled", "false")
    )
    if master.startswith("local"):
        # Python workers import pyspark from the installed package, not from
        # SPARK_HOME's pyspark.zip. The JVM puts pyspark.zip, the py4j zip
        # and the Spark core jar first on each worker's sys.path, and
        # pyspark's worker calls importlib.invalidate_caches() on every
        # task; on CPython 3.11 each zipimporter then re-reads its archive
        # directory, 0.13–0.28 s per task on a 4-vCPU VM (a warm 4-task
        # pandas UDF job at local[4]: 0.93 s with it, 0.33 s without). The
        # daemon drops the archives only when the rest of sys.path holds an
        # unpacked pyspark of the zip's version plus py4j, and otherwise
        # (or on any error) runs pyspark.daemon as is. Local masters only:
        # there _export_pythonpath makes this package importable by the
        # daemon; a cluster's workers may not have it installed.
        b = b.config("spark.python.daemon.module", "libpostal_spark.daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
