"""SparkSession factory with scale-oriented defaults.

Everything here is plain public Spark configuration. The defaults are
chosen for the local[32] test harness but express the same knobs a
1000-executor cluster run would tune:

  * AQE on (runtime coalescing, skew-join splitting, adaptive join
    selection) — the primary defense against skew/mis-sized shuffles
    at 100 TB.
  * Arrow on — every Python<->JVM hop is columnar-batched.
  * UTC session timezone — parity with the DuckDB oracle (naive
    timestamps) and with parquet instant semantics.
  * shuffle.partitions sized to cores locally; on a real cluster this
    is replaced by AQE's coalescing from an intentionally-high initial
    number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from zoom_spark.operators.sizing import LOCAL_BYTES

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "zoom_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Mirrors the reference's single entry-point connector construction
    (/root/reference/main.py:33-36) but yields a distributed engine
    handle instead of an HTTP client + DB connection.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Catalyst's automatic broadcasts and the engine's counted hints
        # share one budget (operators/sizing.py)
        .config("spark.sql.autoBroadcastJoinThreshold", str(LOCAL_BYTES))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark has
        # no nanos timestamp type, so read as long and convert in io.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def release_storage(spark: SparkSession) -> None:
    """Drop every cached/localCheckpointed block a completed query left
    in executor storage.

    The engine localCheckpoints iterative frames (graph fixpoints,
    Lloyd rounds, prefix tables) to truncate lineage; those blocks stay
    referenced until the Python DataFrame is garbage-collected AND the
    JVM ContextCleaner runs, so a long one-JVM session (the 579-query
    driver bench) accumulates storage and the resulting GC pressure
    inflates later query timings 2-4x (round-11 adjudication: all
    seven flagged "regressions" reproduced at r9-level steady states
    in a quiet JVM). Safe ONLY between queries: no cross-query code
    shares a checkpointed frame (session memos hold model-sized plain
    lists, never DataFrames); unpersisting mid-query would break a
    lineage-truncated plan that has not finished executing.
    """
    import gc

    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    # Blocking unpersist (ADVICE r11): this hook only runs OUTSIDE timed
    # spans, and async removal could otherwise overlap the next query's
    # timer — partially reintroducing the GC noise it exists to remove.
    while it.hasNext():
        it.next()._2().unpersist(True)
    # Drop py4j refs so the ContextCleaner can also reap broadcasts.
    gc.collect()
