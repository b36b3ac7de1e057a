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


def cluster_conf(
    executors: int,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """Recommended conf for a real cluster — the knobs this repo's
    local-mode defaults stand in for, derived from first principles:

    - shuffle partitions: 2-3 tasks per core per stage wave (here 2x
      total cores) so AQE can coalesce down rather than starve up;
    - maxPartitionBytes: the scan-side partition target;
    - advisory partition size: what AQE coalesces shuffle outputs toward;
    - per-partition memory sanity: a partition must fit several times
      into the executor's per-core share (raise executor_mem_gb or lower
      target_partition_mb if the returned ratio is < 4).

    Returned as a plain dict for ``get_spark(extra_conf=...)`` or
    spark-submit ``--conf`` lines. At 100 TB input with 128 MB scan
    partitions a full pass is ~800k tasks; 1000 executors x 4 cores chew
    that in ~200 task waves — the arithmetic to sanity-check any job.
    """
    total_cores = executors * cores_per_executor
    shuffle_partitions = max(total_cores * 2, 64)
    per_core_mb = (executor_mem_gb * 1024) // max(cores_per_executor, 1)
    headroom = per_core_mb // max(target_partition_mb, 1)
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # informational: partitions-per-core memory headroom (see doc)
        "spark.invoice_engine.partition_mem_headroom": str(headroom),
    }
