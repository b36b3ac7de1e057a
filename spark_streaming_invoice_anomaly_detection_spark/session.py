"""SparkSession factory.

Local-mode defaults mirror what a 1000-executor deployment would set
per-executor: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for every Python<->JVM hop, UTC session timezone so
results are oracle-comparable, and shuffle parallelism sized to cores
instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: RocksDB-backed streaming state store (built into Spark since 3.2).
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark: SparkSession) -> str:
    """Switch streaming state to RocksDB (SURVEY.md §7 Phase 4 hygiene).

    The default HDFS-backed provider keeps every key in executor heap; the
    invoice-session state (one entry per in-flight invoice) outgrows that
    long before 100 TB. RocksDB spills to local disk with incremental
    checkpoint uploads. Runtime-settable; applies to queries started AFTER
    the call. Returns the previous provider so callers can restore it.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    previous = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_STATE_STORE)
    return previous


def get_spark(
    app_name: str = "invoice-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults come from env so a caller such as ``perfbench`` can steer them:
    ``SPARK_GRAFT_CPUS`` sets local parallelism and shuffle partitions.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
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
        # Parquet timestamps without a timezone (the testdata's timestamp[us])
        # must read as TIMESTAMP_LTZ, not NTZ: with the UTC session timezone
        # the epoch values are identical to DuckDB's naive interpretation, and
        # epoch functions (unix_micros et al.) only accept LTZ inputs.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
