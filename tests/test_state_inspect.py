"""Offline state-store reads: metadata, raw state, census — including the
invoice sessionizer's applyInPandasWithState store."""

from __future__ import annotations

import os
import time

import pytest


def _write_lines(src, name, lines):
    with open(os.path.join(src, name), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.mark.slow
def test_sessionizer_state_is_readable_offline(spark, tmp_path):
    """Open (un-expired) invoices are visible in the checkpoint after the
    query stops; the census counts exactly those invoices (state rows are
    hash buckets, each holding its open invoices)."""
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        build_invoice_stream,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.state_inspect import (
        read_state,
        state_census,
        state_operator_metadata,
    )

    src = tmp_path / "in"
    os.makedirs(src)
    _write_lines(
        src,
        "b0.txt",
        [
            "536365,85123A,ITEM,6,12/1/2010 8:26,2.55,17850,United Kingdom",
            "536370,84406B,OTHER,3,12/1/2010 8:28,2.75,17850,United Kingdom",
        ],
    )
    raw = spark.readStream.format("text").load(str(src))
    ckpt = str(tmp_path / "ckpt")
    # expiry far beyond the test horizon: both invoices stay OPEN in state
    q = (
        build_invoice_stream(raw, trigger_seconds=1, expiry_ticks=600)
        .writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and q.lastProgress is None:
            time.sleep(0.5)
        # let the batch containing the two lines commit
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] > 0:
                break
            time.sleep(0.5)
        time.sleep(2)
    finally:
        q.stop()

    meta = state_operator_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    assert meta[0]["operatorName"] == "applyInPandasWithState"

    st = read_state(spark, ckpt).collect()
    keys = sorted(no for r in st for no in r["value"]["groupState"]["invoice_nos"])
    assert keys == ["536365", "536370"]
    # both hash to bucket 28 of 64: one state row holds the two invoices
    assert len(st) == 1

    census = state_census(spark, ckpt).first()
    assert census["n_keys"] == 2
    assert 1 <= census["n_partitions_used"] <= 2
    assert census["max_partition_keys"] >= 1
    assert census["skew_ratio"] >= 1.0


@pytest.mark.slow
def test_state_census_on_plain_agg(spark, tmp_path):
    """Census over a windowless groupBy-sum state store."""
    import pyspark.sql.functions as F

    from spark_streaming_invoice_anomaly_detection_spark.streaming.state_inspect import (
        state_census,
    )

    src = tmp_path / "in"
    os.makedirs(src)
    _write_lines(src, "a.csv", [f"k{i},{i}" for i in range(10)])
    raw = (
        spark.readStream.format("csv")
        .schema("k string, v int")
        .load(str(src))
    )
    agg = raw.groupBy("k").agg(F.sum("v").alias("s"))
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    census = state_census(spark, ckpt).first()
    assert census["n_keys"] == 10
    assert census["skew_ratio"] >= 1.0
