"""Composed streaming-path tests: invoice stream -> 8min/1min window count
-> sink (T4 end-to-end), per-batch metrics listener (S9), checkpoint
recovery (T3), and a golden development.csv-shaped replay through the paced
producer (S8) pinning all four outputs."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from .test_streaming import _poll

GOOD = "536365,85123A,WHITE HANGING HEART,6,12/1/2010 8:26,2.55,17850,United Kingdom"


def _tiny_detector(spark, threshold=100.0):
    from pyspark.ml.clustering import KMeans

    from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import (
        Detector,
        assemble_features,
    )

    train = spark.createDataFrame(
        [(1.0 + i * 0.1, 1.0, 2.0, 8.0, 5.0) for i in range(10)],
        "avg_unit_price double, min_unit_price double, max_unit_price double, "
        "time double, number_items double",
    )
    model = KMeans(k=2, seed=1).fit(assemble_features(train))
    return Detector(model=model, threshold=threshold, algo="kmeans")


@pytest.mark.slow
def test_composed_cancellation_window_counts(spark, tmp_path):
    """Invoice stream -> staged cancellations -> sliding count -> sink
    (InvoicePipeline.scala:322-331 composed end-to-end)."""
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        CollectingSinks,
        start_pipeline,
    )

    cancels = [
        f"C60000{i},85123A,CANCELLED,1,12/1/2010 9:3{i},9.99,17850,UK"
        for i in range(3)
    ]
    src = tmp_path / "in"
    os.makedirs(src)
    # two micro-batches of cancellations plus one normal invoice
    with open(src / "batch0.txt", "w") as f:
        f.write("\n".join([GOOD, cancels[0], cancels[1]]) + "\n")

    raw = spark.readStream.format("text").load(str(src))
    collected = CollectingSinks()
    handle = start_pipeline(
        raw,
        collected.as_sinks(),
        trigger_seconds=1,
        expiry_ticks=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
        staging_dir=str(tmp_path / "stage"),
    )
    try:
        time.sleep(2)
        with open(src / "batch1.txt", "w") as f:
            f.write(cancels[2] + "\n")
        # update-mode window rows accumulate; wait until some window has
        # seen all three cancellations
        _poll(
            lambda: max([r.n for r in collected.cancellations] or [0]),
            3,
            deadline_s=120,
        )
    finally:
        handle.stop()

    rows = collected.cancellations
    assert rows, "no window counts delivered"
    assert max(r.n for r in rows) == 3
    # every window is exactly 8 minutes long, slid on 1-minute boundaries
    for r in rows:
        span = r.window_end - r.window_start
        assert span.total_seconds() == 8 * 60
        assert r.window_start.second == 0 and r.window_start.minute >= 0
    # the normal invoice never reaches the cancellation path
    assert all(r.n <= 3 for r in rows)


@pytest.mark.slow
def test_batch_count_listener_observes_progress(spark, tmp_path):
    """S9: listener sees >=1 progress event with the batch's row count."""
    from spark_streaming_invoice_anomaly_detection_spark.streaming.monitor import (
        BatchCountListener,
    )

    listener = BatchCountListener()
    spark.streams.addListener(listener)
    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "batch0.txt", "w") as f:
        f.write("a\nb\nc\n")
    name = f"listener_probe_{abs(hash(str(tmp_path))) % 10**8}"
    q = (
        spark.readStream.format("text")
        .load(str(src))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        _poll(
            lambda: sum(e["numInputRows"] for e in listener.history), 3,
            deadline_s=60,
        )
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    assert any(e["numInputRows"] == 3 for e in listener.history)
    assert all("batchId" in e and "batchDuration" in e for e in listener.history)


@pytest.mark.slow
def test_checkpoint_recovery_no_duplicate_emission(spark, tmp_path):
    """T3: restart the stateful query on the same checkpoint; an invoice
    emitted (and committed) before the restart must not emit again."""
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        build_invoice_stream,
    )

    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    emitted: list = []

    def start():
        raw = spark.readStream.format("text").load(str(src))
        return (
            build_invoice_stream(raw, trigger_seconds=1, expiry_ticks=2)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )

    line_a = "700001,x,FIRST,2,12/1/2010 9:00,3.50,17850,UK"
    line_b = "700002,x,SECOND,1,12/1/2010 9:05,4.25,17850,UK"

    q = start()
    try:
        with open(src / "a.txt", "w") as f:
            f.write(line_a + "\n")
        _poll(lambda: len(emitted), 1)
        time.sleep(3)  # let the emitting batch's commit land in the checkpoint
    finally:
        q.stop()

    q = start()
    try:
        with open(src / "b.txt", "w") as f:
            f.write(line_b + "\n")
        _poll(
            lambda: len([r for r in emitted if r.invoice_no == "700002"]), 1
        )
    finally:
        q.stop()

    names = [r.invoice_no for r in emitted]
    assert names.count("700002") == 1
    assert names.count("700001") == 1, "restart re-emitted committed state"


@pytest.mark.slow
def test_rocksdb_state_store_sessionization(spark, tmp_path):
    """The stateful operator runs unchanged on the RocksDB provider — the
    state backend a real deployment needs once session state outgrows heap."""
    from spark_streaming_invoice_anomaly_detection_spark.session import (
        ROCKSDB_STATE_STORE,
        enable_rocksdb_state_store,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        build_invoice_stream,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    previous = enable_rocksdb_state_store(spark)
    assert spark.conf.get(key) == ROCKSDB_STATE_STORE
    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "a.txt", "w") as f:
        f.write("710001,x,ROCKS,2,12/1/2010 9:00,3.50,17850,UK\n")
    emitted: list = []
    raw = spark.readStream.format("text").load(str(src))
    q = (
        build_invoice_stream(raw, trigger_seconds=1, expiry_ticks=2)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        _poll(lambda: len(emitted), 1)
    finally:
        q.stop()
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)
    assert [r.invoice_no for r in emitted] == ["710001"]


# ---------------------------------------------------------------------------
# Golden replay: development.csv-shaped stream through the paced producer,
# all four outputs pinned (reference logs/ captures, proportionally)
# ---------------------------------------------------------------------------

#: 5-invoice fixture shaped like src/main/resources/development.csv: one
#: C-cancellation, one invoice whose lines all lack CustomerID, one
#: parse-error line, one anomalous invoice, two normal invoices.
GOLDEN_LINES = (
    # invoice 800001: 3 normal lines
    ["800001,85123A,ITEM A,%d,12/1/2010 8:2%d,2.55,17850,United Kingdom" % (i + 1, i)
     for i in range(3)]
    # invoice 800002: normal, quoted description
    + ['800002,22633,"HAND WARMER, UNION JACK",6,12/1/2010 8:28,1.85,17851,United Kingdom']
    # invoice 800003: every line missing CustomerID -> erroneous
    + ["800003,85123A,NO CUST,2,12/1/2010 9:00,3.75,,United Kingdom",
       "800003,85123B,NO CUST,1,12/1/2010 9:01,1.25,,United Kingdom"]
    # invoice C800004: cancellation
    + ["C800004,85123A,CANCELLED,1,12/1/2010 9:30,9.99,17850,United Kingdom"]
    # invoice 800005: parse error (bad quantity)
    + ["800005,85123A,BAD QTY,notanint,12/1/2010 9:35,2.55,17850,United Kingdom"]
    # invoice 800006: price outlier -> anomaly under the tiny detector
    + ["800006,85123A,ANOMALY,2,12/1/2010 9:40,5000.0,17850,United Kingdom"]
)


@pytest.mark.slow
def test_golden_replay_four_outputs(spark, tmp_path):
    from spark_streaming_invoice_anomaly_detection_spark.sources.replay import (
        PacedReplayProducer,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        CollectingSinks,
        start_pipeline,
    )

    det = _tiny_detector(spark)
    src = str(tmp_path / "in")
    os.makedirs(src)
    raw = spark.readStream.format("text").load(src)
    collected = CollectingSinks()
    handle = start_pipeline(
        raw,
        collected.as_sinks(),
        kmeans=det,
        bisect=det,
        trigger_seconds=1,
        expiry_ticks=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
        staging_dir=str(tmp_path / "stage"),
    )
    # paced drip: 3 lines per chunk -> the 9 lines arrive over >=3 files,
    # exercising multi-batch arrival like the reference producer's 5-10ms
    # pacing (here 20-40ms for test speed vs trigger=1s)
    producer = PacedReplayProducer(
        GOLDEN_LINES, src, delay_ms=(20.0, 40.0), chunk_lines=3, seed=3
    )
    producer.start()
    try:
        producer.join(timeout=30)
        _poll(lambda: len(collected.erroneous), 2, deadline_s=120)
        _poll(
            lambda: min(
                len(collected.kmeans_anomalies),
                len(collected.bisect_anomalies),
                len(collected.cancellations),
            ),
            1,
            deadline_s=120,
        )
    finally:
        handle.stop()

    # 1) erroneous stream: missing-customer + parse-error invoices, with
    #    reference reasons (facturas_erroneas.csv shape: "<invNo>,<reason>")
    erroneous = {r.invoice_no: r.reason for r in collected.erroneous}
    assert erroneous["800003"] == "missing customer ID"
    assert erroneous["800005"].startswith("parse error:")
    assert "800001" not in erroneous and "800002" not in erroneous
    # 2) cancellation window counts: exactly the one C-invoice
    assert max(r.n for r in collected.cancellations) == 1
    # 3+4) both anomaly streams flag the outlier and nothing else
    km = {r.invoice_no for r in collected.kmeans_anomalies}
    bi = {r.invoice_no for r in collected.bisect_anomalies}
    assert km == {"800006"} and bi == {"800006"}


# ---------------------------------------------------------------------------
# Reference-proportions replay: the four output streams' relative sizes
# mirror the reference's captured logs/ (516 erroneous : 778 kmeans :
# 756 bisect anomalies : 13 cancel windows), scaled to fixture size
# ---------------------------------------------------------------------------

#: Reference capture sizes (logs/facturas_erroneas.csv=516 — 515 "missing
#: customer ID" + 1 "parse error", anomalias_kmeans.csv=778,
#: anomalias_bisect_kmeans.csv=756, cancelaciones.csv=13).
REF_ERRONEOUS, REF_KMEANS, REF_BISECT = 516, 778, 756

#: Fixture-scale plant: 30 anomalies, erroneous scaled by the reference
#: ratio (516/778 * 30 ~= 20, split 19 missing-customer + 1 parse-error to
#: mirror the 515:1 reason dominance), plus normals and 2 cancellations.
N_ANOM, N_MISSING, N_PARSE_ERR, N_NORMAL, N_CANCEL = 30, 19, 1, 10, 2


def _proportional_lines() -> list[str]:
    lines = []
    for i in range(N_ANOM):
        lines.append(
            f"9{i:05d},85123A,ANOMALY,2,12/1/2010 9:40,5000.0,17850,United Kingdom"
        )
    for i in range(N_MISSING):
        lines.append(
            f"8{i:05d},85123A,NO CUST,2,12/1/2010 9:00,3.75,,United Kingdom"
        )
    for i in range(N_PARSE_ERR):
        lines.append(
            f"7{i:05d},85123A,BAD QTY,notanint,12/1/2010 9:35,2.55,17850,United Kingdom"
        )
    for i in range(N_NORMAL):
        lines.append(
            f"6{i:05d},85123A,NORMAL,6,12/1/2010 8:26,2.55,17850,United Kingdom"
        )
    for i in range(N_CANCEL):
        lines.append(
            f"C5{i:04d},85123A,CANCELLED,1,12/1/2010 9:3{i},9.99,17850,United Kingdom"
        )
    return lines


@pytest.mark.slow
def test_golden_replay_reference_proportions(spark, tmp_path):
    """Each output stream's size is exact vs the plant, and the resulting
    output RATIOS match the reference's captured run within 10% — pinning
    that the pipeline's relative stream volumes track the reference, not
    just non-emptiness."""
    from spark_streaming_invoice_anomaly_detection_spark.sources.replay import (
        PacedReplayProducer,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        CollectingSinks,
        start_pipeline,
    )

    det = _tiny_detector(spark)
    src = str(tmp_path / "in")
    os.makedirs(src)
    raw = spark.readStream.format("text").load(src)
    collected = CollectingSinks()
    handle = start_pipeline(
        raw,
        collected.as_sinks(),
        kmeans=det,
        bisect=det,
        trigger_seconds=1,
        expiry_ticks=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
        staging_dir=str(tmp_path / "stage"),
    )
    producer = PacedReplayProducer(
        _proportional_lines(), src, delay_ms=(5.0, 10.0), chunk_lines=8, seed=7
    )
    producer.start()
    try:
        producer.join(timeout=60)
        _poll(lambda: len(collected.erroneous), N_MISSING + N_PARSE_ERR,
              deadline_s=180)
        _poll(lambda: len(collected.kmeans_anomalies), N_ANOM, deadline_s=180)
        _poll(lambda: len(collected.bisect_anomalies), N_ANOM, deadline_s=180)
        _poll(lambda: max([r.n for r in collected.cancellations] or [0]),
              N_CANCEL, deadline_s=180)
    finally:
        handle.stop()

    # exact stream sizes vs the plant (deterministic pipeline)
    reasons = [r.reason for r in collected.erroneous]
    assert len(reasons) == N_MISSING + N_PARSE_ERR
    assert reasons.count("missing customer ID") == N_MISSING
    assert sum(r.startswith("parse error:") for r in reasons) == N_PARSE_ERR
    km, bi = collected.kmeans_anomalies, collected.bisect_anomalies
    assert len(km) == N_ANOM and len(bi) == N_ANOM
    assert {r.invoice_no for r in km} == {f"9{i:05d}" for i in range(N_ANOM)}
    assert max(r.n for r in collected.cancellations) == N_CANCEL

    # proportions vs the reference capture, 10% tolerance
    got_err_ratio = len(reasons) / len(km)
    ref_err_ratio = REF_ERRONEOUS / REF_KMEANS
    assert abs(got_err_ratio - ref_err_ratio) / ref_err_ratio < 0.10
    got_bi_ratio = len(bi) / len(km)
    ref_bi_ratio = REF_BISECT / REF_KMEANS
    assert abs(got_bi_ratio - ref_bi_ratio) / ref_bi_ratio < 0.10
