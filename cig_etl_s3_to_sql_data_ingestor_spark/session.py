"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
default here is chosen to also be correct on a large multi-executor cluster:
AQE handles runtime re-planning/skew, shuffle partitions default to the
core count locally (on a cluster you'd size this to ~2-3x total cores or
rely on AQE coalescing), and the session timezone is pinned to UTC so
timestamp semantics match columnar storage and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "cig-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Notes on the defaults:
    - ``spark.sql.adaptive.enabled``: runtime partition coalescing and skew
      join splitting; the 100 TB story relies on this plus explicit
      broadcasts for dimension tables.
    - ``spark.sql.session.timeZone=UTC``: parquet timestamps are compared
      against a UTC-naive oracle (DuckDB); mixed timezones would silently
      shift values.
    - Arrow enabled: every pandas interchange (createDataFrame/toPandas/
      pandas UDFs) goes through Arrow batches, not pickled rows.
    - ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4
      otherwise walks the Python stack and makes about five extra py4j
      round trips on EVERY Column operation, to name the call site in
      error messages. The ingest builds thousands of column expressions
      per run (tables of up to 427 columns), where that capture alone
      cost about 16% of a nightly ingest run (4-vCPU VM, local[2]).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
