"""Metric names and units, shared by every workload.

Every run reports every name: a traced run reports a per-layer metric as
0 when its workload does not drive that layer.
"""

from __future__ import annotations

from batch import HEADLINE


def _m(name: str, unit: str, better: str = "lower") -> dict:
    return {"name": name, "unit": unit, "better": better}


END_TO_END = [
    _m("setup_s", "s"),
    _m("total_s", "s"),
    _m("latency_p50_s", "s"),
    _m("latency_p99_s", "s"),
]

PER_LAYER = [
    # streaming.pipeline trigger loop (StreamingQueryProgress)
    _m("trigger.batches", "count"),
    _m("trigger.execution_ms", "ms"),
    _m("trigger.add_batch_ms", "ms"),
    _m("trigger.query_planning_ms", "ms"),
    _m("trigger.wal_commit_ms", "ms"),
    _m("trigger.overrun_frac", "ratio"),
    # streaming.session_state (stateOperators)
    _m("state.updates_ms", "ms"),
    _m("state.removals_ms", "ms"),
    _m("state.commit_ms", "ms"),
    _m("state.rows_peak", "count"),
    _m("state.memory_peak_bytes", "B"),
    # streaming.pipeline fan_out (the benchmark's sink callbacks)
    *[_m(f"sink.{s}_s", "s") for s in ("erroneous", "cancellations", "kmeans", "bisect")],
    *[_m(f"sink.{s}_rows", "count", "higher") for s in ("erroneous", "cancellations", "kmeans", "bisect")],
    # streaming.parse / streaming.session_state stages (event log)
    _m("stage.pre_state_cpu_s", "s"),
    _m("stage.state_cpu_s", "s"),
    _m("stage.shuffle_write_mb", "MB"),
    # ml.clustering and sources.csv_batch (the stream workloads' detector fit)
    _m("ml.sweep_kmeans_s", "s"),
    _m("ml.sweep_bisecting_s", "s"),
    _m("ml.threshold_s", "s"),
    _m("ml.sweep_jobs", "count"),
    _m("sources.featurize_s", "s"),
    # plans, operators, sources.catalog, per headline query
    *[
        _m(f"q.{q}.{k}", unit)
        for q in HEADLINE
        for k, unit in (("build_s", "s"), ("exec_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"))
    ],
    _m("batch.spill_mb", "MB"),
    _m("batch.gc_s", "s"),
    _m("batch.jobs", "count"),
    # the Spark JVM plus its Python workers, peak summed RSS from /proc
    _m("mem.peak_rss_mb", "MB"),
    # load generator (stream_paced)
    _m("generator.late_max_s", "s"),
    _m("generator.lines", "count", "higher"),
    # the traced run's own total_s; minus the untraced total_s = tracing overhead
    _m("trace.total_s", "s"),
]
