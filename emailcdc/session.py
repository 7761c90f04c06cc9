"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the emailcdc package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app: str = "emailcdc", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', _usable_cpus())}]"
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or _default_parallelism(master)))
        # small scan splits: the engine's mapInPandas parse costs ~10x the
        # scan per byte, so feed it many partitions (default 128m would
        # pack a whole micro-batch into a handful of tasks)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # zstd halves the envelope/sink parquet bytes vs the snappy
        # default (47→25MB per 150k-event batch measured) at equal write
        # wall — less tmpfs RAM locally, less I/O + network at real scale
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-terminated stage lines that
        # splice themselves into adjacent stdout lines (corrupts logs and
        # line-oriented output parsing)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Python workers unpickle the engine's functions by module path, so
        # they import emailcdc from here whatever the caller's cwd is
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # Extra driver JVM flags (e.g. -Xms to pin the heap).  A G1 heap that
    # grows and shrinks re-commits pages every cycle; on a virtualized
    # host that reclaims uncommitted guest pages (free-page reporting),
    # every re-commit faults through the hypervisor's slow path and the
    # JVM's VM Thread ends up spinning in heap-resize operations.  Pinning
    # -Xms=-Xmx makes the heap fault once and stay resident.
    java_opts = os.environ.get("EMAILCDC_DRIVER_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    return builder.getOrCreate()


def _usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's)."""
    return len(os.sched_getaffinity(0))


def _default_parallelism(master: str) -> int:
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return _usable_cpus()
        try:
            return int(inner)
        except ValueError:
            return 8
    return 200
