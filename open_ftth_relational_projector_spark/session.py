"""SparkSession factory tuned for this engine.

Local test profile is local[N] single-JVM; the configuration below is chosen
so the same code scales to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the few pandas-UDF
paths, UTC session timezone so results hash-match a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the driver heap cap where host RAM is large or unknown
MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_memory() -> str:
    """Half the host's RAM (MemTotal in /proc/meminfo), at most 24g: the
    local driver JVM shares the host with the Python workers and the OS.
    Hosts without /proc/meminfo get the cap."""
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, kb // 2048)}m"


def get_spark(
    app_name: str = "open_ftth_relational_projector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors SPARK_GRAFT_CPUS for local parallelism and
    SPARK_GRAFT_DRIVER_MEM for the driver heap (default: sized from the
    host, ``default_driver_memory``). On a real cluster the
    master/deploy settings come from spark-submit; everything here is
    master-agnostic tuning.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores. On a 1000-executor cluster you would size this
        # to ~2-3x total cores or rely on AQE coalescing from a higher start.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's reader rejects by default; read it as a long and let
        # sources.tables convert to a real timestamp column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
