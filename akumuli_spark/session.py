"""SparkSession factory tuned for the akumuli_spark engine.

Local-mode defaults mirror what a cluster deployment would set per-job:
AQE on (runtime coalescing + skew-join handling), shuffle partitions sized
to cores rather than the 200 default, Arrow enabled for the Pandas-UDF
slow path, UTC session time so results compare exactly against UTC-naive
engines (DuckDB oracle).

``spark.sql.legacy.parquet.nanosAsLong=true``: the reference's native
timestamp resolution is u64 nanoseconds
(/root/reference/include/akumuli_def.h:36).  When a source table is
written with parquet TIMESTAMP(NANOS) — as some driver generations of
``events`` were — Spark's µs TimestampType can't hold it, so the flag
reads nanos as a plain long; ``sources.testdata.ts_ns_expr`` then
normalizes either schema (long-ns or TIMESTAMP(MICROS)) onto the
engine's canonical int64-ns axis, exactly like the reference.

``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark wraps
every Column/DataFrame API call in a call-site capture
(``pyspark.errors.utils._with_origin``) that walks the Python stack,
tries ``import IPython`` and makes about seven extra py4j round trips
(active session, origin class lookup, a conf read, set and clear the
origin).  Query build is nothing but such calls, so the capture was
about half of it: building a narrow ``where`` select took 232 py4j
round trips with it and 72 without (49.8 → 26.8 ms of build on 4 vCPUs;
a 5-function ``aggregate`` 214.7 → 113.3 ms).  What is lost: the
``== DataFrame ==`` context of an analysis or runtime error names the
JVM frame instead of the Python ``file:line`` that built the failing
column.  The exception class, error condition and message are
unchanged.  The flag is a static conf, read once per process: a caller
who builds their own ``SparkSession`` must set it on the builder to get
the same build cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "akumuli_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
