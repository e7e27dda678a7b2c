"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same config block is what we'd ship to a
real cluster — AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the pandas-UDF boundary, and shuffle partitions sized
to the parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pdf_brain_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # Unpinned py4j gateway (must be set BEFORE the JVM gateway launches).
    # PySpark's default pinned-thread ClientServer never propagates Python
    # garbage collection to the JVM, so EVERY python-created plan object —
    # and with it every persisted/localCheckpoint'd block it references —
    # is pinned until session death; measured here: a dropped
    # localCheckpoint DataFrame's blocks are never reclaimed under pinned
    # mode and drain in ~1 s under the legacy gateway, whose finalizers
    # work. This engine submits queries sequentially and uses no
    # per-thread job-group/cancellation semantics, so the legacy gateway
    # is safe — and it is what makes a LONG-LIVED session's storage
    # bounded (the ContextCleaner can only reclaim what the JVM can
    # collect). tests/test_dedup_scale.py asserts the drain.
    os.environ.setdefault("PYSPARK_PIN_THREAD", "false")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        # At 100 TB these matter: bound scan-partition size so a single file
        # split fits executor memory, and keep broadcast threshold generous
        # for dimension tables (documents/concepts/centroids).
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark reads it
        # as long (nanos) under this flag and loaders.py converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as TIMESTAMP_MICROS, not the legacy INT96:
        # INT96 columns carry NO footer min/max statistics, which silently
        # disables file/row-group pruning on every time-clustered layout
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # bucketed-table writes (co-located joins) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sgraft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
