"""stream_paced: an open loop of purchase lines through ``start_pipeline``
(5 s trigger, 2-tick expiry) into four collecting sinks.

A priming chunk of 50 invoices lands first, so the query's first (cold)
micro-batch runs before the clock. Then one generator thread lands a
100-line chunk file in the watched directory every 0.1 s (1,000 lines/s)
for ``--seconds``, on a fixed schedule whether or not the pipeline keeps
up. The schedule starts 50 ms after a trigger boundary (Spark aligns
processing-time triggers to multiples of the interval), so every run sees
the same phase, and a run of whole triggers ends just before a boundary:
the batches that check the expiry then read no new lines. Invoices average 5 lines.
Each invoice is stamped with the due time of the chunk holding its last
line; its latency is the end of the sink call that delivers it, minus that
stamp, minus the configured expiry. Batch-level numbers count the batches
that start after the schedule does.

Expected outcomes come from the generated lines: the erroneous reason per
the validation precedence, the cancellation set, and the anomaly sets from
``pipeline.score_anomalies`` over a static frame of per-invoice features.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

from common import check, job_group, log, make_progress_listener
from invoices import make_invoices, stream_lines, training_csv

TRIGGER_S = 5
EXPIRY_TICKS = 2
EXPIRY_S = TRIGGER_S * EXPIRY_TICKS
RATE = 1000  # lines/s
CHUNK_S = 0.1
PHASE_S = 0.05  # generator start after a trigger boundary
LINES_PER_INVOICE = 5
PRIMING_INVOICES = 50
TRAIN_INVOICES = 2000
#: Fixed k for both detectors. The threshold flags about half of the
#: training invoices, so a 5 s run delivers about 1,100 invoices and the
#: p99 latency has about 11 samples beyond it.
DETECTOR_K = 4
THRESHOLD_K = TRAIN_INVOICES // 2
SINKS = ("erroneous", "cancellations", "kmeans", "bisect")
FEATURES = ["avg_unit_price", "min_unit_price", "max_unit_price", "time", "number_items"]


class _Sinks:
    """Collecting sinks that time each fan_out branch and stamp each
    delivery. A branch runs from the end of the previous sink call in the
    same epoch (or this call's start, for the first) to the end of this
    call, so it includes the plan the branch builds before calling its sink."""

    def __init__(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.rows: dict[str, list] = {s: [] for s in SINKS}
        self.calls: list[dict] = []
        self.last_end: dict[int, float] = {}
        self.lock = threading.Lock()

    def make(self, name: str):
        def sink(df, epoch_id: int) -> None:
            with job_group(self.spark, f"sink.{epoch_id}.{name}"):
                t0 = time.time()
                rows = df.collect()
                t1 = time.time()
            with self.lock:
                start = self.last_end.get(epoch_id, t0)
                self.last_end[epoch_id] = t1
                self.rows[name].extend((r, t1) for r in rows)
                self.calls.append({"sink": name, "epoch": epoch_id, "start": start, "end": t1, "rows": len(rows)})
            self.tracer.add(f"sink.{name}", start, t1, f"epoch.{epoch_id}", rows=len(rows), call_start=t0)

        return sink

    def as_pipeline_sinks(self):
        from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import PipelineSinks

        return PipelineSinks(
            erroneous=self.make("erroneous"),
            cancellations=self.make("cancellations"),
            kmeans_anomalies=self.make("kmeans"),
            bisect_anomalies=self.make("bisect"),
        )

    def delivered(self) -> int:
        with self.lock:
            return sum(len(v) for v in self.rows.values())

    def got(self) -> dict[str, list]:
        """Per sink: (invoice_no, the row's identity, delivery time)."""
        out = {}
        for name, rows in self.rows.items():
            if name == "erroneous":
                out[name] = [(r["invoice_no"], (r["invoice_no"], r["reason"]), t) for r, t in rows]
            else:
                out[name] = [(r["invoice_no"], r["invoice_no"], t) for r, t in rows]
        return out


def _write_chunk(lines: list[str], tmp_dir: str, dest_dir: str, name: str) -> None:
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dest_dir, name))


def _batch_start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


class StreamWorkload:
    name = "stream_paced"

    def __init__(self, seed: int, work, tracer, seconds: float) -> None:
        self.seed, self.work, self.tracer = seed, work, tracer
        self.seconds = seconds
        self.layer: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------

    def prepare_inputs(self) -> None:
        self.train_csv = os.path.join(self.work.sub("train"), "train.csv")
        training_csv(self.seed, TRAIN_INVOICES, self.train_csv)
        n_lines = int(RATE * self.seconds)
        invoices = make_invoices(self.seed, 2 * n_lines // LINES_PER_INVOICE, LINES_PER_INVOICE)
        lines = stream_lines(self.seed, invoices)
        # cut at the last invoice boundary within n_lines
        cut = max(i for i in range(1, n_lines + 1) if lines[i][1] != lines[i - 1][1])
        self.lines = lines[:cut]
        used = {idx for _, idx in self.lines if idx >= 0}
        self.invoices = [inv for i, inv in enumerate(invoices) if i in used]
        self.priming = make_invoices(self.seed + 1, PRIMING_INVOICES, LINES_PER_INVOICE, first_no=900000)
        per_chunk = int(RATE * CHUNK_S)
        self.chunks = [self.lines[i : i + per_chunk] for i in range(0, len(self.lines), per_chunk)]

    def prepare_program(self, spark) -> None:
        """Featurize the training CSV and fit both detectors at a fixed k.
        Traced runs time the calls ``train_detector`` makes into
        ``train_sweep`` and ``compute_threshold``."""
        from spark_streaming_invoice_anomaly_detection_spark.ml import clustering
        from spark_streaming_invoice_anomaly_detection_spark.sources.csv_batch import (
            load_and_featurize_training_csv,
        )

        timings: dict[str, float] = {}
        originals = clustering.train_sweep, clustering.compute_threshold
        if self.tracer.enabled:
            clustering.train_sweep = self._timed(originals[0], timings, "sweep")
            clustering.compute_threshold = self._timed(originals[1], timings, "threshold")
        try:
            t0 = time.time()
            with job_group(spark, "fit.featurize"):
                feats = load_and_featurize_training_csv(spark, self.train_csv).persist()
                feats.count()
            self.tracer.add("fit.featurize", t0, time.time(), "setup.program")
            timings["featurize"] = time.time() - t0
            assembled = clustering.assemble_features(feats, FEATURES)
            self.detectors = {}
            for algo in ("kmeans", "bisecting"):
                timings["algo"] = algo
                with job_group(spark, f"fit.{algo}"), self.tracer.span(f"fit.{algo}", "setup.program"):
                    model, threshold, _ = clustering.train_detector(
                        assembled, algo, range(DETECTOR_K, DETECTOR_K + 1), threshold_k=THRESHOLD_K
                    )
                self.detectors[algo] = clustering.Detector(model=model, threshold=threshold, algo=algo)
            feats.unpersist()
        finally:
            clustering.train_sweep, clustering.compute_threshold = originals
        self.layer["sources.featurize_s"] = timings["featurize"]
        if self.tracer.enabled:
            self.layer["ml.sweep_kmeans_s"] = timings["sweep.kmeans"]
            self.layer["ml.sweep_bisecting_s"] = timings["sweep.bisecting"]
            self.layer["ml.threshold_s"] = timings["threshold.kmeans"] + timings["threshold.bisecting"]

    def _timed(self, fn, timings: dict, name: str):
        def call(*a, **k):
            t0 = time.time()
            out = fn(*a, **k)
            key = f"{name}.{timings['algo']}"
            timings[key] = time.time() - t0
            self.tracer.add(key, t0, time.time(), f"fit.{timings['algo']}")
            return out

        return call

    def _expected(self, spark) -> dict[str, set]:
        from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import score_anomalies

        invoices = self.priming + self.invoices
        exp = {
            "erroneous": {(inv.invoice_no, inv.reason) for inv in invoices if inv.reason},
            "cancellations": {inv.invoice_no for inv in invoices if inv.category == "cancel"},
        }
        scored = [(inv.invoice_no, *inv.features()) for inv in invoices if inv.category in ("ok", "outlier")]
        static = spark.createDataFrame(scored, "invoice_no string, " + ", ".join(f"{c} double" for c in FEATURES))
        for sink, algo in (("kmeans", "kmeans"), ("bisect", "bisecting")):
            exp[sink] = {r["invoice_no"] for r in score_anomalies(static, self.detectors[algo]).collect()}
        return exp

    # -- measurement -------------------------------------------------------

    def measure(self, spark, seconds: float) -> dict:
        from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import start_pipeline

        src = self.work.sub("src")
        listener = make_progress_listener()
        spark.streams.addListener(listener)
        sinks = _Sinks(spark, self.tracer)
        stamps: dict[int, float] = {}
        late = [0.0]
        handle = start_pipeline(
            spark.readStream.format("text").load(src),
            sinks.as_pipeline_sinks(),
            kmeans=self.detectors["kmeans"],
            bisect=self.detectors["bisecting"],
            trigger_seconds=TRIGGER_S,
            expiry_ticks=EXPIRY_TICKS,
            checkpoint_dir=self.work.sub("ckpt"),
        )
        try:
            _write_chunk(
                [ln for inv in self.priming for ln in inv.lines], self.work.sub("staging"), src, "priming.txt"
            )
            expected = self._expected(spark)  # while the priming batch runs
            n_expected = sum(len(v) for v in expected.values())
            deadline = time.time() + 120
            while not listener.records() and time.time() < deadline:
                time.sleep(0.05)
            check(bool(listener.records()), "the priming batch never completed")
            # a priming batch that overran its trigger is followed at once by
            # another; start the schedule on a boundary with nothing running
            time.sleep(0.2)
            while handle.main.status["isTriggerActive"] and time.time() < deadline:
                time.sleep(0.05)
            t_start = (int(time.time() + 0.3) // TRIGGER_S + 1) * TRIGGER_S + PHASE_S
            gen = threading.Thread(target=self._generate, args=(src, t_start, stamps, late), daemon=True)
            gen.start()
            deadline = t_start + self.seconds + EXPIRY_S + 4 * TRIGGER_S + 60
            while sinks.delivered() < n_expected and time.time() < deadline:
                time.sleep(0.05)
            gen.join()
            # keep the query up until the delivering batch reports progress
            last_epoch = max((c["epoch"] for c in sinks.calls), default=-1)
            while time.time() < deadline and not any(p["batchId"] >= last_epoch for p in listener.records()):
                time.sleep(0.05)
        finally:
            handle.stop()
            spark.streams.removeListener(listener)
        progress = listener.records()
        for p in progress:
            op = (p.get("stateOperators") or [{}])[0]
            log(
                f"batch {p['batchId']} at {p['timestamp']}: {p['numInputRows']} rows in, "
                f"{p['durationMs']}, state rows {op.get('numRowsTotal')}, removed {op.get('numRowsRemoved')}"
            )

        got = sinks.got()
        failed = 0
        for sink, want in expected.items():
            have = {k for _, k, _ in got[sink]}
            extra = len(got[sink]) - len(have)
            if have != want or extra:
                failed += len(want ^ have) + extra
                log(f"{sink}: {len(want - have)} not delivered, {len(have - want)} unexpected, {extra} duplicates")
        # every delivery, plus each valid invoice's implicit "not anomalous"
        attempted = n_expected + sum(
            1 for inv in self.priming + self.invoices if inv.category in ("ok", "outlier")
        )
        check(bool(progress), "the stream ran no batch")

        # priming invoices are checked but not timed
        inv_of = {inv.invoice_no: i for i, inv in enumerate(self.invoices)}
        timed = [(no, t) for rows in got.values() for no, _, t in rows if no in inv_of]
        lat = [t - stamps[inv_of[no]] - EXPIRY_S for no, t in timed]
        t_last = max(t for _, t in timed)
        self.layer["generator.late_max_s"] = late[0]
        self.layer["generator.lines"] = float(len(self.lines))
        self._fold_progress([p for p in progress if _batch_start(p) >= t_start], sinks)
        self.progress = progress
        return {
            "total_s": t_last - t_start - EXPIRY_S,
            "latencies": lat,
            "attempted": attempted,
            "failed": failed,
        }

    def _generate(self, src: str, t0: float, stamps: dict, late: list) -> None:
        tmp = self.work.sub("staging")
        for i, chunk in enumerate(self.chunks):
            due = t0 + i * CHUNK_S
            now = time.time()
            if now < due:
                time.sleep(due - now)
            late[0] = max(late[0], time.time() - due)
            _write_chunk([line for line, _ in chunk], tmp, src, f"chunk-{i:05d}.txt")
            for _, idx in chunk:
                if idx >= 0:
                    stamps[idx] = due  # the last chunk holding a line wins

    def _fold_progress(self, progress: list[dict], sinks: _Sinks) -> None:
        def total(key):
            return float(sum(p["durationMs"].get(key, 0) for p in progress))

        self.layer["trigger.batches"] = float(len(progress))
        self.layer["trigger.execution_ms"] = total("triggerExecution")
        self.layer["trigger.add_batch_ms"] = total("addBatch")
        self.layer["trigger.query_planning_ms"] = total("queryPlanning")
        self.layer["trigger.wal_commit_ms"] = total("walCommit")
        over = sum(1 for p in progress if p["durationMs"].get("triggerExecution", 0) > TRIGGER_S * 1000)
        self.layer["trigger.overrun_frac"] = over / len(progress)
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        self.layer["state.updates_ms"] = float(sum(o.get("allUpdatesTimeMs", 0) for o in ops))
        self.layer["state.removals_ms"] = float(sum(o.get("allRemovalsTimeMs", 0) for o in ops))
        self.layer["state.commit_ms"] = float(sum(o.get("commitTimeMs", 0) for o in ops))
        self.layer["state.rows_peak"] = float(max((o.get("numRowsTotal", 0) for o in ops), default=0))
        self.layer["state.memory_peak_bytes"] = float(max((o.get("memoryUsedBytes", 0) for o in ops), default=0))
        measured = self.measured = {p["batchId"] for p in progress}
        for name in SINKS:
            calls = [c for c in sinks.calls if c["sink"] == name and c["epoch"] in measured]
            self.layer[f"sink.{name}_s"] = sum(c["end"] - c["start"] for c in calls)
            self.layer[f"sink.{name}_rows"] = float(sum(c["rows"] for c in calls))
        self.calls = sinks.calls

    def fold_trace(self, groups: dict, stages: list, spans: list) -> None:
        """Stage split from the event log, and the check that each epoch's
        sink branches account for its addBatch time."""
        sink_stages = [
            s for s in stages if s["group"].startswith("sink.") and int(s["group"].split(".")[1]) in self.measured
        ]
        self.layer["stage.state_cpu_s"] = sum(s["cpu_s"] for s in sink_stages if s["stateful"])
        self.layer["stage.pre_state_cpu_s"] = sum(
            s["cpu_s"] for s in sink_stages if not s["stateful"] and s["shuffle_mb"] > 0
        )
        self.layer["stage.shuffle_write_mb"] = sum(s["shuffle_mb"] for s in sink_stages)
        self.layer["ml.sweep_jobs"] = float(
            sum(groups.get(f"fit.{a}", {}).get("jobs", 0) for a in ("kmeans", "bisecting"))
        )
        by_epoch: dict[int, float] = {}
        for c in self.calls:
            by_epoch[c["epoch"]] = by_epoch.get(c["epoch"], 0.0) + c["end"] - c["start"]
        for p in self.progress:
            if p["batchId"] not in self.measured:
                continue
            add_batch = p["durationMs"].get("addBatch", 0) / 1000
            sinks_s = by_epoch.get(p["batchId"], 0.0)
            t0 = _batch_start(p)
            self.tracer.add(f"epoch.{p['batchId']}", t0, t0 + add_batch, None, sinks_s=sinks_s)
            check(
                sinks_s <= add_batch + 0.01 and sinks_s >= 0.9 * add_batch - 0.05,
                f"reconciliation: epoch {p['batchId']} sinks {sinks_s:.3f}s vs addBatch {add_batch:.3f}s",
            )
