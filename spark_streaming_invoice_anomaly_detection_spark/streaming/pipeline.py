"""End-to-end streaming pipeline: parse -> sessionize -> fan out to 4 sinks.

Reference graph (InvoicePipeline.scala:157-409): Kafka lines -> safeParseCsv
-> split/union -> updateStateByKey -> expired filter -> {erroneous,
cancellation window count, kmeans anomalies, bisect anomalies} -> 4 Kafka
topics.

Structured Streaming shape: ONE stateful query; the four consumers run
inside ``foreachBatch`` over the emitted-invoice micro-batch with a single
``persist()`` — the SS equivalent of the reference's
``completedInvoices.cache()`` fan-out (T5; four independent writeStream
queries would each re-run the state store). Both detectors score the
batch's candidates in ONE projection, persisted once; the kmeans and
bisect sinks receive filtered views of it.

The 8 min/1 min cancellation window count (T4, :322-331) cannot chain onto
the stateful operator inside the same query (Spark rejects an aggregation
after applyInPandasWithState), so it runs as a SECOND streaming query over
a staging directory the fan-out appends cancellations to — the Structured
Streaming equivalent of the reference publishing to an intermediate topic.
Enable it by passing ``staging_dir``; ``sinks.cancellations`` then receives
(window_start, window_end, n) updates instead of raw cancellation rows.

Anomaly scoring (M4-M6) uses the batch scorer's distance expression
(``ml.clustering.centroid_distance``): the centroids are array literals in
the plan, so each model reaches the executors with the task closure,
the counterpart of the reference's model broadcast (:148-152). The model
copies, centroid literals, threshold predicates and the validation reason
Column are built once in ``start_pipeline``, not per micro-batch.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.ml.clustering import BisectingKMeansModel, KMeansModel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..ml.clustering import (
    Detector,
    assemble_features,
    centroid_distance,
    detect_anomalies,
    distance_to_centroid,
)
from .parse import parse_purchase_lines, route_events
from .session_state import sessionize_invoices
from .validate import classify_erroneous, filter_valid_invoices, reject_reason
from .windows import sliding_count

SinkFn = Callable[[DataFrame, int], None]

FEATURE_ORDER = [
    "avg_unit_price",
    "min_unit_price",
    "max_unit_price",
    "time",
    "number_items",
]


def score_anomalies(invoices: DataFrame, detector: Detector) -> DataFrame:
    """Valid non-cancellation invoices -> anomaly invoice numbers (M4-M6)."""
    feats = assemble_features(invoices, FEATURE_ORDER)
    scored = distance_to_centroid(feats, detector.model)
    return detect_anomalies(scored, detector.threshold).select("invoice_no", "dist")


@dataclass(frozen=True)
class _Scorer:
    """One detector prepared for ``fan_out``: a model copy that writes its
    own prediction column, its distance Column, its anomaly view and the
    sink that view goes to."""

    model: KMeansModel | BisectingKMeansModel
    distance: Column
    flagged: Column
    output: list[Column]
    sink: SinkFn

    @classmethod
    def prepare(cls, name: str, detector: Detector, sink: SinkFn) -> _Scorer:
        prediction, dist = f"{name}_prediction", f"{name}_dist"
        return cls(
            model=detector.model.copy().setPredictionCol(prediction),
            distance=centroid_distance(
                F.col("features"),
                F.col(prediction),
                detector.model.clusterCenters(),
            ).alias(dist),
            flagged=F.col(dist) > F.lit(detector.threshold),
            output=[F.col("invoice_no"), F.col(dist).alias("dist")],
            sink=sink,
        )


@dataclass
class PipelineSinks:
    """Per-output delivery callables (DataFrame, epoch_id) -> None.

    Defaults collect into driver-side lists — test/dev only; production
    wires kafka_sink from sources.kafka.
    """

    erroneous: SinkFn
    cancellations: SinkFn
    kmeans_anomalies: SinkFn
    bisect_anomalies: SinkFn


@dataclass
class CollectingSinks:
    """In-memory sinks for tests: rows accumulate per output."""

    erroneous: list = field(default_factory=list)
    cancellations: list = field(default_factory=list)
    kmeans_anomalies: list = field(default_factory=list)
    bisect_anomalies: list = field(default_factory=list)

    def as_sinks(self) -> PipelineSinks:
        return PipelineSinks(
            erroneous=lambda df, _e: self.erroneous.extend(df.collect()),
            cancellations=lambda df, _e: self.cancellations.extend(df.collect()),
            kmeans_anomalies=lambda df, _e: self.kmeans_anomalies.extend(df.collect()),
            bisect_anomalies=lambda df, _e: self.bisect_anomalies.extend(df.collect()),
        )


def build_invoice_stream(
    raw_lines: DataFrame,
    trigger_seconds: int = 20,
    expiry_ticks: int = 2,
) -> DataFrame:
    """Raw text lines (streaming) -> finalized-invoice stream."""
    parsed = parse_purchase_lines(raw_lines)
    events = route_events(parsed)
    return sessionize_invoices(events, trigger_seconds, expiry_ticks)


@dataclass
class PipelineHandle:
    """Started queries: the stateful main query + the optional second-stage
    cancellation-window query. ``stop()`` halts both."""

    main: StreamingQuery
    cancellation_windows: StreamingQuery | None = None

    def stop(self) -> None:
        if self.cancellation_windows is not None:
            self.cancellation_windows.stop()
        self.main.stop()


#: Staged cancellation record schema (what fan_out appends, what the
#: window query reads).
_CANCEL_STAGE_SCHEMA = "invoice_no string, last_updated long"


def start_cancellation_window_query(
    spark: SparkSession,
    staging_dir: str,
    sink: SinkFn,
    window: str = "8 minutes",
    slide: str = "1 minute",
    trigger_seconds: int = 20,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Stage 2 of T4: staged cancellations -> 8 min/1 min sliding count.

    Reads the parquet files the fan-out appends (a file stream source — the
    stand-in for the intermediate Kafka topic), windows on the emit
    timestamp the sessionizer stamped, and delivers (window_start,
    window_end, n) updates to ``sink``. Update mode re-emits a window each
    time its count grows, which is the reference's per-slide count cadence
    (InvoicePipeline.scala:322-331); no watermark, matching the reference's
    processing-time design (T6).
    """
    data_dir = os.path.join(staging_dir, "cancellations")
    os.makedirs(data_dir, exist_ok=True)
    staged = spark.readStream.schema(_CANCEL_STAGE_SCHEMA).parquet(data_dir)
    counts = sliding_count(
        staged.select(F.timestamp_millis("last_updated").alias("emit_ts")),
        "emit_ts",
        window=window,
        slide=slide,
    )
    writer = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def start_pipeline(
    raw_lines: DataFrame,
    sinks: PipelineSinks,
    kmeans: Detector | None = None,
    bisect: Detector | None = None,
    trigger_seconds: int = 20,
    expiry_ticks: int = 2,
    checkpoint_dir: str | None = None,
    staging_dir: str | None = None,
    cancel_window: str = "8 minutes",
    cancel_slide: str = "1 minute",
) -> PipelineHandle:
    """Wire the full pipeline and start it (one query, foreachBatch fan-out).

    With ``staging_dir`` set, the composed T4 path runs: fan_out appends
    cancellations to the staging area and a second query delivers windowed
    counts to ``sinks.cancellations``. Without it, the sink receives the
    raw per-batch cancellation rows (the pre-windowing behavior, still
    useful for tests that assert on individual invoices).
    """
    invoices = build_invoice_stream(raw_lines, trigger_seconds, expiry_ticks)
    cancel_stage = (
        os.path.join(staging_dir, "cancellations") if staging_dir else None
    )
    if cancel_stage:
        os.makedirs(cancel_stage, exist_ok=True)

    scorers = [
        _Scorer.prepare(name, det, sink)
        for name, det, sink in (
            ("kmeans", kmeans, sinks.kmeans_anomalies),
            ("bisect", bisect, sinks.bisect_anomalies),
        )
        if det is not None
    ]
    reason = reject_reason()
    is_cancel = F.col("invoice_no").startswith("C")

    def fan_out(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        scored = None
        try:
            sinks.erroneous(classify_erroneous(batch, reason), epoch_id)

            valid = filter_valid_invoices(batch, reason)
            cancels = valid.filter(is_cancel).select("invoice_no", "last_updated")
            if cancel_stage:
                # stage for the window query (stage 2) instead of shipping
                # raw rows — the reference publishes only the window counts
                cancels.write.mode("append").parquet(cancel_stage)
            else:
                sinks.cancellations(cancels, epoch_id)

            if scorers:
                feats = assemble_features(valid.filter(~is_cancel), FEATURE_ORDER)
                for scorer in scorers:
                    feats = scorer.model.transform(feats)
                scored = feats.select(
                    "invoice_no", *[scorer.distance for scorer in scorers]
                ).persist()
                for scorer in scorers:
                    scorer.sink(
                        scored.filter(scorer.flagged).select(*scorer.output),
                        epoch_id,
                    )
        finally:
            if scored is not None:
                scored.unpersist()
            batch.unpersist()

    writer = (
        invoices.writeStream.outputMode("append")
        .foreachBatch(fan_out)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    main = writer.start()

    window_query = None
    if staging_dir:
        window_query = start_cancellation_window_query(
            raw_lines.sparkSession,
            staging_dir,
            sinks.cancellations,
            window=cancel_window,
            slide=cancel_slide,
            trigger_seconds=trigger_seconds,
            checkpoint_dir=(
                os.path.join(checkpoint_dir, "cancel_windows")
                if checkpoint_dir
                else None
            ),
        )
    return PipelineHandle(main=main, cancellation_windows=window_query)
