"""SparkSession builder.

Local test harness runs one JVM with N executor threads (local[N]); the
configs below are chosen so the same code is correct on a real multi-executor
cluster:

- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  should be ~2-3x total cores (AQE coalesces down at runtime anyway).
- AQE on: runtime re-planning (skew-join splitting, partition coalescing,
  broadcast conversion) is the main defense at 100 TB where static stats lie.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow on for every pandas interchange (pandas_udf / toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else about half of the host's
    available memory (at least 1 GiB): the heap must fit beside the Python
    workers and whatever else shares the machine. 4g where
    ``/proc/meminfo`` is missing."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return f"{max(1024, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "usw_big_data_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixture events.parquet uses TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read as epoch-nanos long and rebuild (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # wide-aggregate plans (describe, corr_matrix) generate large
        # codegen classes; the default 100-entry generated-class cache
        # thrashes when many distinct queries run in one session, paying
        # multi-second recompiles per execution
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
