"""Offline streaming-state inspection (Spark 4 state data sources).

The reference's only visibility into its ``updateStateByKey`` session map
is print statements (InvoicePipeline.scala's console output); Structured
Streaming checkpoints are instead directly queryable: the ``statestore``
data source reads any operator's state store as a DataFrame, and
``state-metadata`` lists the operators/stores a checkpoint contains. This
module wraps both plus the diagnostic a stateful deployment actually
runs: a skew/leak census of the keyed state behind the invoice
sessionizer (streaming/session_state.py) — "how many sessions are open,
how are they spread over partitions, is one reducer holding the bag".
The sessionizer keys its state by hash bucket, so the census counts the
open invoices each bucket row holds, not the rows.

All reads are offline (no running query needed) and scan only the
checkpoint's state files — at 100 TB of stream history the cost is
proportional to LIVE state, not to everything that ever flowed through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def state_operator_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Operators/stores in a checkpoint: operatorId, operatorName,
    stateStoreName, numPartitions, min/maxBatchId."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_state(
    spark: SparkSession,
    checkpoint: str,
    operator_id: int = 0,
    batch_id: int | None = None,
    store_name: str | None = None,
) -> DataFrame:
    """Raw state rows of one operator: ``key struct, value struct,
    partition_id int`` (schema follows the operator's state types).
    Defaults to the latest committed batch."""
    r = spark.read.format("statestore").option("operatorId", operator_id)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    if store_name is not None:
        r = r.option("storeName", store_name)
    return r.load(checkpoint)


def _sessions_per_row(state: DataFrame) -> Column:
    """Open sessions one state row holds: the length of the invoice array
    for the sessionizer's bucket rows, 1 for any other keyed state."""
    value = state.schema["value"].dataType
    group = value["groupState"].dataType if "groupState" in value.fieldNames() else None
    if isinstance(group, T.StructType) and "invoice_nos" in group.fieldNames():
        return F.size("value.groupState.invoice_nos")
    return F.lit(1)


def state_census(
    spark: SparkSession, checkpoint: str, operator_id: int = 0
) -> DataFrame:
    """One-row health summary of an operator's keyed state:

    ``n_keys`` (live sessions: open invoices for the sessionizer, state
    rows otherwise), ``n_partitions_used``, ``max_partition_keys``, and
    ``skew_ratio`` = max / mean over USED partitions (1.0 = perfectly
    spread; >> 1 = one reducer holds the bag). The leak check is
    ``n_keys`` itself watched over time — a sessionizer whose expiry
    works holds O(active sessions), not O(history).
    """
    state = read_state(spark, checkpoint, operator_id=operator_id)
    per_part = state.groupBy("partition_id").agg(
        F.sum(_sessions_per_row(state)).alias("n")
    )
    # coalesce: an EMPTY store (all sessions expired) must read n_keys=0
    # and skew_ratio=1.0 (perfectly spread, vacuously), not a row of NULLs
    # — consumers poll this one-row summary over time, so every column
    # must be well-defined in the empty case
    return per_part.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_keys"),
        F.count(F.lit(1)).alias("n_partitions_used"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_partition_keys"),
        F.coalesce(
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")),
            F.lit(1.0),
        ).alias("skew_ratio"),
    )


__all__ = ["state_operator_metadata", "read_state", "state_census"]
