"""Streaming-path tests: parse taxonomy, sessionization semantics (T2),
validation cascade (P10), sliding window (T4), full pipeline fan-out,
watermarked windows, session windows and stream-static joins.

File source + memory/collecting sinks replace Kafka (same DataFrame
contract); expiry counts micro-batches (ticks) as the reference's
2-empty-ticks rule does, pinned by batch id in ``TestExpiryTick``.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.streaming.parse import (
    parse_purchase_lines,
    route_events,
)
from spark_streaming_invoice_anomaly_detection_spark.streaming.session_state import (
    EMITTED_SCHEMA,
)
from spark_streaming_invoice_anomaly_detection_spark.streaming.validate import (
    classify_erroneous,
    filter_valid_invoices,
)

GOOD = "536365,85123A,WHITE HANGING HEART,6,12/1/2010 8:26,2.55,17850,United Kingdom"
QUOTED = '536366,22633,"HAND WARMER, UNION JACK",6,12/1/2010 8:28,1.85,17850,United Kingdom'
SHORT = "536367,85123A,MISSING FIELDS,6,12/1/2010 8:34"
BAD_QTY = "536368,85123A,BAD QTY,notanint,12/1/2010 8:35,2.55,17850,United Kingdom"
BAD_PRICE = "536369,85123A,BAD PRICE,6,12/1/2010 8:36,notadouble,17850,United Kingdom"
EMPTY = "   "
NO_CUSTOMER = "536370,85123A,NO CUST,2,12/1/2010 9:00,3.75,,United Kingdom"
BAD_DATE = "536371,85123A,BAD DATE,2,baddate,3.75,17850,United Kingdom"
CANCEL = "C536372,85123A,CANCELLED,1,12/1/2010 9:30,9.99,17850,United Kingdom"


def _parse(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return parse_purchase_lines(df)


class TestParse:
    def test_good_line(self, spark):
        row = _parse(spark, [GOOD]).first()
        assert row.invoice_no == "536365"
        assert row.quantity == 6
        assert row.unit_price == 2.55
        assert row.customer_id == "17850"
        assert row.country == "United Kingdom"
        assert row.error_reason is None

    def test_quoted_comma_field(self, spark):
        # development.csv:18-style quoted Description containing a comma
        row = _parse(spark, [QUOTED]).first()
        assert row.error_reason is None
        assert row.invoice_no == "536366"
        assert row.unit_price == 1.85

    def test_error_taxonomy(self, spark):
        rows = {r.invoice_no: r for r in _parse(
            spark, [SHORT, BAD_QTY, BAD_PRICE, EMPTY]
        ).collect()}
        assert rows["536367"].error_reason == "malformed purchase line"
        assert rows["536368"].error_reason.startswith("parse error:")
        assert rows["536369"].error_reason.startswith("parse error:")
        assert rows["UNKNOWN"].error_reason == "empty line"

    def test_routing_drops_malformed_silently(self, spark):
        # InvoicePipeline.scala:169-172: only "parse error:" Lefts survive
        routed = route_events(_parse(spark, [GOOD, SHORT, BAD_QTY, EMPTY]))
        reasons = [r.error_reason for r in routed.collect()]
        assert len(reasons) == 2  # GOOD + BAD_QTY
        assert None in reasons
        assert any(r and r.startswith("parse error:") for r in reasons)


# ---------------------------------------------------------------------------
# Sessionization (T2) through a real streaming query
# ---------------------------------------------------------------------------


def _poll(fn, want, deadline_s=90, interval=1.0):
    """Poll ``fn()`` until it returns >= want (count), else time out.

    NOTE: ``q.processAllAvailable()`` deadlocks with applyInPandasWithState
    + ProcessingTimeTimeout on this Spark build — sink polling is the
    reliable synchronization; timeout ("cleaning up state") batches fire on
    their own every trigger.
    """
    deadline = time.time() + deadline_s
    while time.time() < deadline:
        n = fn()
        if n >= want:
            return n
        time.sleep(interval)
    return fn()


def _run_session_stream(spark, tmp_path, batches, trigger_s=1, expiry_ticks=2):
    """Feed line batches through file-source -> sessionize -> memory sink.

    Each element of ``batches`` is a list of raw lines written as one file
    (one micro-batch); batches are spaced by polling the sink, and expiry
    happens via the operator's own processing-time timeout.
    """
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        build_invoice_stream,
    )

    src = tmp_path / "in"
    os.makedirs(src, exist_ok=True)
    raw = spark.readStream.format("text").load(str(src))
    out_name = f"sessions_{abs(hash(str(tmp_path))) % 10**8}"
    q = (
        build_invoice_stream(raw, trigger_seconds=trigger_s, expiry_ticks=expiry_ticks)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(out_name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for i, lines in enumerate(batches):
            with open(src / f"batch_{i}.txt", "w") as f:
                f.write("\n".join(lines) + "\n")
            # space out micro-batches so each file lands in its own batch
            time.sleep(trigger_s * 2)
        expected = len({ln.split(",")[0] for batch in batches for ln in batch})
        _poll(
            lambda: spark.sql(f"SELECT count(*) FROM {out_name}").first()[0],
            expected,
        )
        return spark.sql(f"SELECT * FROM {out_name}").collect()
    finally:
        q.stop()


@pytest.mark.slow
class TestSessionization:
    def test_invoice_assembly_and_expiry(self, spark, tmp_path):
        rows = _run_session_stream(
            spark,
            tmp_path,
            [[GOOD, QUOTED], ["536365,x,y,4,12/1/2010 8:27,10.45,17850,United Kingdom"]],
        )
        by_no = {r.invoice_no: r for r in rows}
        assert set(by_no) == {"536365", "536366"}
        inv = by_no["536365"]
        # toInvoice semantics (InvoicePipeline.scala:472-492)
        assert inv.lines == 2
        assert inv.avg_unit_price == pytest.approx((2.55 + 10.45) / 2)
        assert inv.min_unit_price == 2.55
        assert inv.max_unit_price == 10.45
        assert inv.time == 8.0  # FIRST line's hour, not max
        assert inv.number_items == 10.0
        assert inv.customer_id == "17850"
        assert inv.error_reason is None
        assert not inv.has_missing_customer

    def test_parse_error_discards_same_batch_goods(self, spark, tmp_path):
        # InvoicePipeline.scala:210-219: error wins the batch, goods dropped
        err_line = "536380,x,y,notanint,12/1/2010 8:35,2.55,17850,UK"
        good_line = "536380,x,y,3,12/1/2010 8:35,2.55,17850,UK"
        rows = _run_session_stream(spark, tmp_path, [[err_line, good_line]])
        (inv,) = rows
        assert inv.error_reason.startswith("parse error:")
        assert inv.lines == 0  # the good line arrived with the error -> dropped

    def test_error_then_goods_keeps_both(self, spark, tmp_path):
        # error in batch 1, goods in batch 2: errorReason sticks, lines buffer
        err_line = "536381,x,y,notanint,12/1/2010 8:35,2.55,17850,UK"
        good_line = "536381,x,y,3,12/1/2010 8:36,2.55,17850,UK"
        rows = _run_session_stream(spark, tmp_path, [[err_line], [good_line]])
        (inv,) = rows
        assert inv.error_reason.startswith("parse error:")
        assert inv.lines == 1


# ---------------------------------------------------------------------------
# Expiry tick (T2): emission batch id = reading batch id + expiry_ticks
# ---------------------------------------------------------------------------


def _tick_run(spark, tmp_path, first, follow_up=(), sink_sleep_s=0.0, expiry_ticks=2):
    """Run the sessionizer with a 1 s trigger into a foreachBatch sink.

    ``first`` is in the source before the query starts, so batch 0 reads
    it; the sink writes ``follow_up`` into the source while epoch 0 runs,
    so batch 1 reads it. The sink sleeps ``sink_sleep_s`` on every epoch.
    Returns ({batch id: input rows} from ``recentProgress``,
    {invoice_no: emitting epoch}, {batch id: triggerExecution ms}).
    """
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        build_invoice_stream,
    )

    src, staging = tmp_path / "in", tmp_path / "staging"
    os.makedirs(src)
    os.makedirs(staging)

    def land(name, lines):
        with open(staging / name, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(staging / name, src / name)

    emitted = {}

    def sink(df, epoch_id):
        for r in df.select("invoice_no").collect():
            emitted[r.invoice_no] = epoch_id
        if epoch_id == 0 and follow_up:
            land("b1.txt", follow_up)
        time.sleep(sink_sleep_s)

    land("b0.txt", first)
    want = {ln.split(",")[0] for ln in [*first, *follow_up]}
    q = (
        build_invoice_stream(
            spark.readStream.format("text").load(str(src)),
            trigger_seconds=1,
            expiry_ticks=expiry_ticks,
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        _poll(lambda: len(want & set(emitted)), len(want), deadline_s=40, interval=0.2)
        last = max(emitted.values(), default=0)
        _poll(lambda: (q.lastProgress or {}).get("batchId", -1), last, deadline_s=10, interval=0.2)
        progress = q.recentProgress
    finally:
        q.stop()
    reads = {p["batchId"]: p["numInputRows"] for p in progress if p["numInputRows"]}
    durations = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in progress}
    return reads, emitted, durations


@pytest.mark.slow
class TestExpiryTick:
    """The reference expires at ``ticksSinceUpdate >= 2``
    (InvoicePipeline.scala:239-246): read in batch n, emitted in n + 2."""

    def test_emitted_expiry_ticks_after_reading_batch(self, spark, tmp_path):
        reads, emitted, _ = _tick_run(spark, tmp_path, [GOOD], follow_up=[QUOTED])
        assert reads == {0: 1, 1: 1}
        assert emitted == {"536365": 2, "536366": 3}

    def test_forced_overrun_keeps_the_tick(self, spark, tmp_path):
        # every epoch outlasts 2 x the 1 s trigger, so a 2 s processing-time
        # timeout would already be due at n + 1
        reads, emitted, durations = _tick_run(
            spark, tmp_path, [GOOD], follow_up=[QUOTED], sink_sleep_s=2.5
        )
        assert reads == {0: 1, 1: 1}
        assert emitted == {"536365": 2, "536366": 3}
        assert all(durations[b] > 2000 for b in range(4))

    def test_event_at_next_batch_resets_the_tick(self, spark, tmp_path):
        # 536365 gets a line and 536368 a parse error at n + 1; 536366 is
        # left alone and keeps n + 2
        reads, emitted, _ = _tick_run(
            spark,
            tmp_path,
            [GOOD, QUOTED, BAD_QTY.replace("notanint", "2")],
            follow_up=["536365,x,y,4,12/1/2010 8:27,10.45,17850,United Kingdom", BAD_QTY],
        )
        assert reads == {0: 3, 1: 2}
        assert emitted == {"536365": 3, "536366": 2, "536368": 3}


# ---------------------------------------------------------------------------
# Validation cascade (P10) on emitted rows
# ---------------------------------------------------------------------------


def _emitted(spark, **overrides):
    base = dict(
        invoice_no="1",
        avg_unit_price=1.0,
        min_unit_price=1.0,
        max_unit_price=1.0,
        time=8.0,
        number_items=2.0,
        last_updated=0,
        lines=1,
        customer_id="c",
        error_reason=None,
        has_missing_customer=False,
        has_invalid_date=False,
        has_missing_country=False,
    )
    base.update(overrides)
    return spark.createDataFrame([Row(**base)], EMITTED_SCHEMA)


class TestValidationCascade:
    def test_precedence(self, spark):
        # stored error > no lines > missing customer > bad date > no country
        cases = [
            (dict(error_reason="parse error: x", lines=0), "parse error: x"),
            (dict(lines=0), "no purchase lines"),
            (dict(has_missing_customer=True, has_invalid_date=True),
             "missing customer ID"),
            (dict(has_invalid_date=True, has_missing_country=True),
             "invalid invoice date"),
            (dict(has_missing_country=True), "missing country"),
        ]
        for overrides, want in cases:
            got = classify_erroneous(_emitted(spark, **overrides)).first()
            assert got.reason == want, overrides

    def test_valid_complement(self, spark):
        assert filter_valid_invoices(_emitted(spark)).count() == 1
        assert (
            filter_valid_invoices(
                _emitted(spark, has_missing_country=True)
            ).count()
            == 0
        )


# ---------------------------------------------------------------------------
# Sliding window count (T4)
# ---------------------------------------------------------------------------


def test_sliding_count_batch_semantics(spark):
    from spark_streaming_invoice_anomaly_detection_spark.streaming.windows import (
        sliding_count,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:30",), ("2024-01-01 00:03:30",)], "ts_s string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"))
    out = sliding_count(df, "ts", window="8 minutes", slide="1 minute")
    rows = {r.window_start: r.n for r in out.collect()}
    # each event belongs to exactly 8 sliding windows
    assert sum(rows.values()) == 16
    # windows covering both events count 2
    assert max(rows.values()) == 2


# ---------------------------------------------------------------------------
# Full pipeline fan-out (foreachBatch, 4 sinks, scoring)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_full_pipeline_fanout(spark, tmp_path):
    from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import (
        Detector,
        assemble_features,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        CollectingSinks,
        start_pipeline,
    )
    from pyspark.ml.clustering import KMeans

    # tiny detector: 2 clusters around normal prices; low threshold so the
    # outlier invoice (price 5000) flags as an anomaly
    train = spark.createDataFrame(
        [(1.0 + i * 0.1, 1.0, 2.0, 8.0, 5.0) for i in range(10)],
        "avg_unit_price double, min_unit_price double, max_unit_price double, "
        "time double, number_items double",
    )
    model = KMeans(k=2, seed=1).fit(assemble_features(train))
    det = Detector(model=model, threshold=100.0, algo="kmeans")

    anomaly_line = "536999,x,ANOMALY,2,12/1/2010 9:00,5000.0,17850,UK"
    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "batch0.txt", "w") as f:
        f.write("\n".join([GOOD, QUOTED, NO_CUSTOMER, BAD_DATE, CANCEL,
                           BAD_QTY, anomaly_line]) + "\n")

    raw = spark.readStream.format("text").load(str(src))
    collected = CollectingSinks()
    q = start_pipeline(
        raw,
        collected.as_sinks(),
        kmeans=det,
        bisect=det,
        trigger_seconds=1,
        expiry_ticks=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        _poll(
            lambda: min(len(collected.erroneous) // 3, len(collected.kmeans_anomalies)),
            1,
        )
    finally:
        q.stop()

    erroneous = {r.invoice_no: r.reason for r in collected.erroneous}
    assert erroneous["536370"] == "missing customer ID"
    assert erroneous["536371"] == "invalid invoice date"
    assert erroneous["536368"].startswith("parse error:")
    cancels = {r.invoice_no for r in collected.cancellations}
    assert cancels == {"C536372"}
    anomalies = {r.invoice_no for r in collected.kmeans_anomalies}
    assert "536999" in anomalies
    assert "536365" not in anomalies


@pytest.mark.slow
def test_pipeline_sink_failure_releases_batch_caches(spark, tmp_path):
    """A sink that raises stops the pipeline with the sink's error, and
    fan_out still unpersists both frames it cached for that batch."""
    from pyspark.errors import StreamingQueryException

    from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import (
        CollectingSinks,
        start_pipeline,
    )

    def failing_sink(_df, _epoch):
        raise RuntimeError("cancellations sink down")

    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "batch0.txt", "w") as f:
        f.write("\n".join([GOOD, CANCEL]) + "\n")

    spark.catalog.clearCache()
    raw = spark.readStream.format("text").load(str(src))
    sinks = CollectingSinks().as_sinks()
    sinks.cancellations = failing_sink
    q = start_pipeline(
        raw,
        sinks,
        trigger_seconds=1,
        expiry_ticks=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        with pytest.raises(StreamingQueryException, match="cancellations sink down"):
            q.main.awaitTermination(90)
    finally:
        q.stop()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """T6 opt-in event time: append-mode windows finalize when the
    watermark passes window end, and rows arriving behind the watermark
    are dropped — the count of a closed window never changes."""
    import os
    import time

    from spark_streaming_invoice_anomaly_detection_spark.streaming.windows import (
        sliding_count,
    )

    src = tmp_path / "in"
    os.makedirs(src, exist_ok=True)
    raw = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    counts = sliding_count(
        raw, "ts", window="10 seconds", slide="10 seconds", watermark="5 seconds"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )

    def rows():
        return {
            (r.window_start.isoformat(), r.n)
            for r in spark.sql("SELECT * FROM wm_out").collect()
        }

    try:
        # window [10:00:00,10:00:10): two on-time rows
        (src / "b0.json").write_text(
            '{"ts": "2024-01-01T10:00:01"}\n{"ts": "2024-01-01T10:00:02"}\n'
        )
        time.sleep(3)
        # advance event time far past the window -> watermark closes it
        (src / "b1.json").write_text('{"ts": "2024-01-01T10:30:00"}\n')
        deadline = time.time() + 90
        while time.time() < deadline and not any(
            s.startswith("2024-01-01T10:00:00") for s, _ in rows()
        ):
            time.sleep(1)
        closed = {s: n for s, n in rows() if s.startswith("2024-01-01T10:00:00")}
        assert closed.get("2024-01-01T10:00:00") == 2, rows()

        # a LATE row for the closed window: behind the watermark -> dropped
        (src / "b2.json").write_text('{"ts": "2024-01-01T10:00:03"}\n')
        time.sleep(4)
        # push watermark further so anything pending would have flushed
        (src / "b3.json").write_text('{"ts": "2024-01-01T11:00:00"}\n')
        time.sleep(4)
        after = {s: n for s, n in rows() if s.startswith("2024-01-01T10:00:00")}
        assert after == {"2024-01-01T10:00:00": 2}, "late row resurrected a closed window"
    finally:
        q.stop()


@pytest.mark.slow
def test_builtin_session_window_streaming(spark, tmp_path):
    """Built-in gap-based session windows (session_window) in a stream:
    events within the gap merge into one session per user; watermark
    finalizes sessions in append mode."""
    import os
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "in"
    os.makedirs(src, exist_ok=True)
    raw = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    sessions = (
        raw.withWatermark("ts", "5 seconds")
        .groupBy(
            F.session_window(F.col("ts"), "10 seconds").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events", F.col("w.start").alias("start"))
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # user 1: two events 3s apart (one session); user 2: one event
        (src / "b0.json").write_text(
            '{"user_id": 1, "ts": "2024-01-01T10:00:00"}\n'
            '{"user_id": 1, "ts": "2024-01-01T10:00:03"}\n'
            '{"user_id": 2, "ts": "2024-01-01T10:00:01"}\n'
        )
        time.sleep(3)
        # advance watermark past the sessions to finalize them
        (src / "b1.json").write_text('{"user_id": 9, "ts": "2024-01-01T10:30:00"}\n')
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM sess_out").collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
        by_user = {r.user_id: r for r in rows}
        assert by_user[1].n_events == 2  # merged into one session
        assert by_user[2].n_events == 1
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: each micro-batch joins the static dimension
    without watermarks or state (the static side re-resolves per batch).
    The canonical enrichment shape — stream of events + dimension table."""
    from pyspark.sql import functions as F

    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    static_dim = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("nat"), "n_name"
    )
    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "a.csv", "w") as f:
        f.write("e1,0\ne2,1\ne3,0\ne4,99\n")  # 99: no dim match -> dropped
    raw = (
        spark.readStream.format("csv")
        .schema("event_id string, nat int")
        .load(str(src))
    )
    out: list = []
    q = (
        raw.join(F.broadcast(static_dim), "nat")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        _poll(lambda: len(out), 3)
    finally:
        q.stop()
    got = {r.event_id: r.n_name for r in out}
    assert set(got) == {"e1", "e2", "e3"}  # inner join drops the orphan
    assert got["e2"] != got["e1"]
