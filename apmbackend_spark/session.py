"""SparkSession factory tuned for the engine.

Scale posture: the same configs serve a local[N] session sized to the
machine's CPUs and a 1000-executor cluster reading 100 TB — AQE handles
runtime re-planning (partition coalescing, skew-join splitting), the
shuffle partition count defaults to the task-slot count, and session
timezone is pinned to UTC so event-time semantics are deterministic across
engines and clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "apmbackend-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Deterministic event time across Spark/DuckDB/cluster.
        .config("spark.sql.session.timeZone", "UTC")
        # Legacy-fixture compat: a TIMESTAMP(NANOS) events.ts is rejected by
        # the parquet reader unless read as a nanos BIGINT; harmless for the
        # current timestamp[us] fixtures (sources/tx.py dispatches on type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read ms/us parquet timestamps as TimestampType (UTC session), not
        # NTZ — keeps unix_millis()/window() uniform and matches DuckDB's
        # naive-as-UTC epoch math.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Adaptive execution: runtime partition coalescing + skew-join
        # handling — the 100 TB insurance policy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / applyInPandas crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Streaming state off-heap: RocksDB state store with changelog
        # checkpointing — at production retention the z-score FIFO /
        # zero-fill timer state outgrows executor heap, and changelog
        # (delta) checkpointing bounds per-batch upload by state CHANGED,
        # not state held. Identical semantics to the default provider
        # (the streaming suite runs against it).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled",
            "true",
        )
        # Scan hygiene.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def task_slots(spark: SparkSession) -> int:
    """Partition count for a stage that runs Python workers
    (applyInPandas, mapInArrow, the stateful pandas operators): one task
    per task slot.

    Use it as an explicit count, ``df.repartition(task_slots(spark),
    *keys)``. Such groups are bytes-small but compute-heavy, and AQE's
    byte-based partition coalescing would collapse an ENSURE_REQUIREMENTS
    exchange in front of them to one partition, serializing every key
    through a single Python worker (zscore_recursive: 8.6 s -> 1.4 s at
    sf0.1 once pinned). An explicit-count repartition plans as
    REPARTITION_BY_NUM, which AQE does not coalesce, and hash-partitioning
    on exactly the grouping keys means the grouped map adds no second
    exchange.

    Why not more than one task per slot: a Python task is expensive to
    start. Before each task a reused worker re-runs ``setup_spark_files``,
    whose ``importlib.invalidate_caches()`` re-reads the pyspark.zip
    directory for every zipimporter — ~0.3 s per task on a 4-core x86
    host, Python 3.11. An identity mapInArrow over 4 / 32 / 64 partitions
    took 0.4 / 2.1 / 5.0 s there (0.07-0.13 s without the Python stage).
    JVM-only stages pay milliseconds per task and keep their own, larger
    counts."""
    return spark.sparkContext.defaultParallelism
