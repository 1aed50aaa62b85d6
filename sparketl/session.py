"""SparkSession factory.

The reference opens one pyodbc connection per app instance with a 5 s
login timeout (SQL_DATA_INTEGRATION_TOOL.py:108-138). Here the engine
instance is a SparkSession; all "connection" concerns become session
configs. Tuned for local[N] testing but every knob is cluster-safe:
AQE handles runtime re-planning (partition coalescing, skew joins,
broadcast conversion) which is exactly what we rely on at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(
    meminfo: str = "/proc/meminfo", cgroup: str = "/sys/fs/cgroup/memory.max"
) -> str:
    """``spark.driver.memory`` for this process: ``SPARKETL_DRIVER_MEM``
    when set, else half the memory the process may use, in whole GiB
    (at least 1g). "May use" is the smaller of the kernel's
    ``MemAvailable`` and the cgroup's ``memory.max`` when one is set;
    where neither can be read, the physical memory. A local-mode driver
    JVM is the whole engine, and a heap sized past the machine (the old
    fixed 48g) lets it grow until the OOM killer takes it."""
    if os.environ.get("SPARKETL_DRIVER_MEM"):
        return os.environ["SPARKETL_DRIVER_MEM"]
    limits = []
    try:
        with open(cgroup, encoding="ascii") as f:
            raw = f.read().strip()
        if raw.isdigit():
            limits.append(int(raw))
    except OSError:
        pass
    try:
        with open(meminfo, encoding="ascii") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    if not limits:
        limits.append(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))
    return f"{max(1, min(limits) // 2 // 2**30)}g"


def get_spark(
    app_name: str = "sparketl",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster, set it near total executor cores (or rely on AQE coalescing,
    which is enabled and shrinks post-shuffle partitions to fit
    ``advisoryPartitionSizeInBytes``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # ANSI off: the reference defers coercion to the server and we pin
        # permissive casts so ingest/oracle behavior is deterministic
        # (SURVEY §7.3 item 2).
        .config("spark.sql.ansi.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events.ts) is illegal for Spark's
        # vectorized reader; read as epoch-nanos LongType and convert in
        # the loader (io.load_table) — ns→µs truncation matches DuckDB.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
