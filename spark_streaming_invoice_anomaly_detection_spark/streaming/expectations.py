"""Streaming data contracts: per-window expectation checks on a stream.

The batch ``data_quality_report`` gates a publish; a streaming pipeline
needs the same contracts evaluated CONTINUOUSLY — null-rate spikes, range
violations, and schema drift arrive mid-stream, not at publish time. This
module scores every event-time window of a stream against a declared
expectation suite, one stateful aggregation for ALL checks (each
expectation is one conditional-count column, map-side combined), then a
STATELESS explode of an array-of-structs built from the aggregated row
unpivots to the familiar one-row-per-check shape with an alarm flag when
a check's violation RATE crosses its tolerance. The physical plan holds
exactly one StateStoreSave regardless of the number of checks.

Tolerances are rates, not absolute counts, because a stream's window
population varies — 3 bad rows in 10 is an incident, in 10 million it is
Tuesday. A tolerance of 0.0 demands perfection (any violation alarms).

Scale: state is O(windows in flight) x O(checks); the unpivot is a
literal stack over the aggregated row, nothing per-event after the one
combine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One contract: rows where ``cond`` is false or NULL are violations."""

    name: str
    cond: Column
    tolerance: float = 0.0  # max violation rate before the alarm fires


def windowed_expectations(
    stream: DataFrame,
    expectations: list[Expectation],
    ts_col: str,
    window: str = "1 minute",
    watermark: str | None = None,
) -> DataFrame:
    """Evaluate ``expectations`` per event-time window.

    Output (append-friendly): ``window_start, window_end, check_name,
    n_rows, n_violations, violation_rate, alarm``.
    """
    if not expectations:
        raise ValueError("windowed_expectations needs at least one check")
    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")
    if watermark:
        stream = stream.withWatermark(ts_col, watermark)
    agg = stream.groupBy(F.window(ts_col, window).alias("w")).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.count_if(~e.cond | e.cond.isNull()).alias(f"__v_{i}")
            for i, e in enumerate(expectations)
        ],
    )
    # Unpivot STATELESSLY after the one aggregation: an array-of-structs
    # explode over the already-aggregated row. The earlier unionByName over
    # N selects of the agg subtree planned one StateStoreSave PER check —
    # N stateful copies of the full per-window state and N reads of the
    # source. This shape keeps exactly one.
    checks = F.array(
        *[
            F.struct(
                F.lit(e.name).alias("check_name"),
                F.col(f"__v_{i}").alias("n_violations"),
                F.lit(float(e.tolerance)).alias("tolerance"),
            )
            for i, e in enumerate(expectations)
        ]
    )
    rate = F.col("c.n_violations").cast("double") / F.col("n_rows").cast(
        "double"
    )
    return (
        agg.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col("__n").alias("n_rows"),
            F.explode(checks).alias("c"),
        )
        .select(
            "window_start",
            "window_end",
            F.col("c.check_name").alias("check_name"),
            "n_rows",
            F.col("c.n_violations").alias("n_violations"),
            rate.alias("violation_rate"),
            (rate > F.col("c.tolerance")).alias("alarm"),
        )
    )


__all__ = ["Expectation", "windowed_expectations"]
