"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same logical plans scale to a multi-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (oracle comparability), Arrow for the few
Pandas-UDF paths.

Per-call call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
PySpark 4.1 wraps every Column call (``F.col``, ``alias``,
``getField``, ...) in ``_with_origin``: a Python stack walk plus about
ten extra py4j round trips each, so ``F.col`` costs 13 round trips
instead of 3 and ``alias`` 22 instead of 1. A cron tick builds
thousands of Column expressions; turning the capture off cut its
driver round trips from 27.7k to 10.4k. The trade-off: an analysis
error (an unresolved column, a type mismatch) no longer names the
Python file and line of the offending Column, only the plan fragment.
To get the call sites back while debugging, set the option to
``"true"`` in ``get_spark`` below. PySpark reads the option once per
process and caches it, so it cannot be switched on a running session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "adsmasterpipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no per-Column call-site capture: see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # saveAsTable targets (bucketed tables, rebuild-swap tests) go
        # under tmp, never the repo working directory
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark-graft-warehouse"))
    )
    return builder.getOrCreate()
