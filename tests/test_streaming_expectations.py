"""Streaming expectations: per-window contract checks and alarms."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.mark.slow
def test_windowed_expectations_alarm_on_bad_window(spark, tmp_path):
    """Window 1 is clean; window 2 carries nulls and range violations —
    only window 2's checks alarm, and only past their tolerance."""
    from spark_streaming_invoice_anomaly_detection_spark.streaming.expectations import (
        Expectation,
        windowed_expectations,
    )

    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "w1.csv", "w") as f:  # minute 0: all good
        for i in range(20):
            f.write(f"2024-01-01 00:00:{i:02d},{float(i % 50)}\n")
    with open(src / "w2.csv", "w") as f:  # minute 1: 5 nulls, 5 negative
        for i in range(10):
            f.write(f"2024-01-01 00:01:{i:02d},{float(i)}\n")
        for i in range(5):
            f.write(f"2024-01-01 00:01:{i + 10:02d},\n")
        for i in range(5):
            f.write(f"2024-01-01 00:01:{i + 20:02d},-1.0\n")
    raw = (
        spark.readStream.format("csv")
        .schema("ts timestamp, v double")
        .load(str(src))
    )
    checks = [
        Expectation("v_present", F.col("v").isNotNull(), tolerance=0.0),
        Expectation("v_nonnegative", F.col("v") >= 0, tolerance=0.3),
    ]
    out: list = []
    q = (
        windowed_expectations(raw, checks, "ts", window="1 minute")
        .writeStream.outputMode("complete")
        .foreachBatch(lambda df, _e: (out.clear(), out.extend(df.collect())))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(out) == 4  # 2 windows x 2 checks
    by_key = {(r["window_start"].minute, r["check_name"]): r for r in out}

    clean_p = by_key[(0, "v_present")]
    assert clean_p["n_rows"] == 20 and clean_p["n_violations"] == 0
    assert not clean_p["alarm"]
    assert not by_key[(0, "v_nonnegative")]["alarm"]

    bad_p = by_key[(1, "v_present")]
    assert bad_p["n_rows"] == 20 and bad_p["n_violations"] == 5
    assert bad_p["alarm"]  # tolerance 0: any null alarms
    bad_r = by_key[(1, "v_nonnegative")]
    # nulls + negatives both fail the >= 0 predicate: 10/20 > 0.3
    assert bad_r["n_violations"] == 10 and bad_r["alarm"]


def test_expectations_validate_inputs(spark):
    from spark_streaming_invoice_anomaly_detection_spark.streaming.expectations import (
        Expectation,
        windowed_expectations,
    )

    df = spark.createDataFrame([], "ts timestamp, v double")
    with pytest.raises(ValueError, match="at least one"):
        windowed_expectations(df, [], "ts")
    dup = [
        Expectation("x", F.col("v").isNotNull()),
        Expectation("x", F.col("v") >= 0),
    ]
    with pytest.raises(ValueError, match="duplicate"):
        windowed_expectations(df, dup, "ts")


def test_expectations_plan_has_single_stateful_agg(spark, tmp_path):
    """The unpivot must be stateless: N checks, ONE StateStoreSave.

    The earlier union-per-check shape planned one stateful
    windowed aggregation per expectation (3 StateStoreSave for 3 checks),
    multiplying state N-fold. Pin the fixed contract on the physical plan.
    """
    from spark_streaming_invoice_anomaly_detection_spark.streaming.expectations import (
        Expectation,
        windowed_expectations,
    )

    raw = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .withColumn("v", F.col("value").cast("double"))
    )
    checks = [
        Expectation("a", F.col("v").isNotNull()),
        Expectation("b", F.col("v") >= 0),
        Expectation("c", F.col("v") < 1e9, tolerance=0.1),
    ]
    out = windowed_expectations(raw, checks, "timestamp", window="1 minute")
    q = (
        out.writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline and not q.lastProgress:
            time.sleep(0.5)
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    n_saves = plan.count("StateStoreSave")
    assert n_saves == 1, f"expected 1 StateStoreSave, got {n_saves}\n{plan}"
