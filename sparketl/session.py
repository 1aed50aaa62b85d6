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
        .config("spark.driver.memory", os.environ.get("SPARKETL_DRIVER_MEM", "48g"))
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
