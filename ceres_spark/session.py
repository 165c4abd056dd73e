"""SparkSession factory tuned for this engine.

Local-mode testing uses a single JVM, but every config here is chosen
to also make sense on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), UTC session timezone
(oracle comparability + sanity at scale), Arrow for any pandas
exchange, and shuffle partitions sized to the local core count rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ceres_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # a running session belongs to its caller: builder.getOrCreate()
    # would re-apply the SQL confs below to it (timezone, shuffle
    # partitions), so an in-process caller such as cli.main must get
    # it back untouched; only a fresh process builds one
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which
        # Spark's vectorized reader rejects; read as epoch-nanos long
        # and convert explicitly (integer math, no tz ambiguity)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed-table warehouse (bucketed tables etc.) outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/ceres_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
