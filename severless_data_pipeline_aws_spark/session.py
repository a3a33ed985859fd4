"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production target is a
multi-executor cluster reading ~100 TB, so every default here is chosen
to survive that scale-up:

* AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast selection) — at 100 TB static planning is always wrong.
* ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster it should be ~2-3x total executor cores (or left to AQE's
  coalescing with a high initial value).
* Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive) and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """Half of the host's physical memory, capped at 48g, in megabytes."""
    half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
    return f"{min(half, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "severless-data-pipeline-aws-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cpus`` controls ``local[N]``; defaults to $SPARK_GRAFT_CPUS, else
    the cores this process may run on. The driver memory is
    $SPARK_GRAFT_DRIVER_MEM, else half the host's memory (at most 48g).
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _host_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # test tables store timestamp[ns]; Spark reads them as long (nanos)
        # and io.load_table converts losslessly to TimestampType (micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
