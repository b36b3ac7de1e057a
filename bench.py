"""Benchmark harness (driver contract): run the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE final JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no driver-side
row transfer — the honest way to time a distributed plan).

Output-size contract (r9 VERDICT "wrong" #1): the driver captures only the
LAST 2000 BYTES of stdout and parses the final line, so the headline line
must stay under _LINE_BUDGET (1900) bytes — r9's single-line output grew to
~2009 bytes once sf_scaling gained 13 entries and the driver recorded
``"parsed": null``. Growing blobs (sf_scaling, any future per-query detail)
are printed as their OWN earlier ``{"metric": "sf_scaling", ...}`` line, and
main() asserts the final line fits the budget so growth can never silently
re-break the channel.

Measurement discipline: NEVER run this (or any timing probe) while another
Spark job shares the box — co-tenant load inflates wall times 10-500%
uniformly (the r7-r9 "+10%" drift saga; the 17k-vs-78k monitor incident).
Serialize all measurements; check `pgrep -f pytest` first.

Parallel-scaling evidence does NOT come from this bench: at sf0.1 every
table is one parquet file (1 scan task) and per-query times are fixed-
overhead dominated, so 8-vs-32-core ratios here read ~1 by construction.
`scripts/cpu_scaling_probe.py` supplies that evidence on CPU-bound stages
over multi-file probe corpora (archived in
scripts/probe_results/cpu_scaling_r{N}.json; see README).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
        REGISTRY,
        queries,
    )
    from spark_streaming_invoice_anomaly_detection_spark.session import get_spark

    queries()  # load registry
    spark = get_spark(app_name="invoice-engine-bench")

    headline = [q for q in HEADLINE if q in REGISTRY]
    # One untimed warm-up pass: JVM JIT + codegen compilation are one-time
    # costs (~2-6s on first execution of each operator shape) that a
    # long-running cluster amortizes away; the timed pass measures the
    # steady-state plan.
    for name in headline:
        REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Calibration brackets the timed window (r5 ADVICE: a single probe run
    # minutes after the headline loop can miss a co-tenant spike confined
    # to it): one probe immediately before, one after; both reported.
    cal_pre = _calibration_probe(spark)

    # Five timed reps, min per query: the host is shared, so single-shot
    # timings see multi-second noise spikes from co-tenant processes
    # (r2's pricing_summary "+16% regression" was min-of-2 measurement
    # noise; r4's uniform "+7%" read as host load — min-of-5 plus the
    # calibration probe below make such shifts measurable and separable).
    timings: dict[str, float] = {}
    for _rep in range(5):
        for name in headline:
            t0 = time.perf_counter()
            df = REGISTRY[name].spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    cal_post = _calibration_probe(spark)
    total = round(sum(timings.values()), 3)

    # Scaling evidence: the most expensive headline queries re-timed at
    # a 10x smaller SF. ratio = t(sf)/t(sf/10); ideal < 10 with fixed
    # overheads — a super-linear ratio flags a plan that won't survive
    # the next 10x. ITERATIVE_QUERIES adds the graph family (join
    # count scales with iterations — the most plausible super-linear
    # risk) even though they are not in the headline set. Printed as its
    # OWN line: it grows with every watched query and blew the driver's
    # 2000-byte tail capture in r9 when inlined in the final line.
    scaling = {"metric": "sf_scaling", "sf": sf}
    scaling.update(_sf_scaling(spark, REGISTRY, timings, sf_dir))
    print(json.dumps(scaling))

    line = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Additive context the batch timings can't show: sustained streaming
        # ingest through the reference's parse/route path. The reference's
        # only throughput envelope is its simulator's 5-10 ms pacing
        # (~100-200 rec/s, BASELINE.md); this measures the engine's actual
        # drain rate on the same wire format, stateless portion only.
        "streaming_parse_lines_per_sec": _streaming_parse_rate(spark),
        # The reference's core streaming operator is the keyed stateful
        # sessionizer (InvoicePipeline.scala:192-252). Same wire format,
        # full parse -> route -> applyInPandasWithState path; rate is
        # measured to the point all input rows have passed THROUGH the
        # stateful operator (cumulative numInputRows), so the fixed
        # expiry-timeout tail doesn't dilute the throughput number.
        "sessionizer_lines_per_sec": _sessionizer_rate(spark),
        # The two continuously-running per-window stateful monitors a
        # production pipeline keeps alongside the sessionizer (r6 VERDICT
        # #4): the PSI drift monitor (20-bin histogram agg + fixed-point
        # log scoring per window) and the expectation-suite contract
        # checker (one StateStoreSave for all checks). Same burst harness
        # as the parse rate; availableNow is safe for both (no
        # applyInPandasWithState timeouts involved).
        "drift_monitor_lines_per_sec": _drift_monitor_rate(spark),
        "expectations_lines_per_sec": _expectations_rate(spark),
        # Host-load calibration: a data-free, IO-free, shuffle-light probe
        # (sum over a codegen'd range) whose cost depends only on CPU
        # availability. Round-over-round query-time drift that tracks
        # this number is co-tenant load, not a plan regression. Two probes
        # BRACKET the headline loop (pre/post); the headline key stays the
        # min of both so its round-over-round series remains comparable.
        "calibration_range_sum_sec": min(cal_pre, cal_post),
        "calibration_pre_sec": cal_pre,
        "calibration_post_sec": cal_post,
        # Protocol marker for round-over-round attribution: from r7 on no
        # rep reads a cache an earlier rep left behind, so minhash/
        # components/pagerank timings are cold-per-rep and NOT comparable
        # to the r1-r6 warm-shingle-cache series.
        "bench_protocol": "cold-per-rep-r7",
    }
    final = json.dumps(line)
    # Driver tail-capture contract: see module docstring. Fail loudly here
    # rather than silently producing a BENCH_r{N}.json with parsed:null.
    assert len(final) < _LINE_BUDGET, (
        f"final bench line is {len(final)} bytes >= {_LINE_BUDGET}: move "
        "the growing key to its own earlier print (like sf_scaling)"
    )
    print(final)
    sys.stdout.flush()
    spark.stop()


#: Byte budget for the FINAL stdout line (driver captures the last 2000
#: bytes and parses the last line; 100 bytes of headroom).
_LINE_BUDGET = 1900

#: The timed headline set (module-level so tests can size the line budget
#: against the real query count).
HEADLINE = [
    "invoice_featurize",        # flagship hash agg (A1)
    "invoice_featurize_ranked", # composite flagship: agg+joins+window
    "invoice_featurize_valid",  # agg + join + filter (A1+P8)
    "validation_cascade",       # codegen'd CASE cascade (P10)
    "sliding_window_count",     # 8x window expansion + agg (T4)
    "threshold_topk",           # TakeOrdered order statistic (A4)
    "pricing_summary",          # TPC-H Q1 shape
    "join_fact_fact_revenue",   # fact-fact + dim join (Q3 shape)
    "topk_per_group",           # window row_number top-k
    "window_running_sum",       # analytic running agg
    "rollup_qty",               # multi-level aggregation
    # round-2 surface, timed since r3 so regressions are visible:
    "join_five_way_volume",     # TPC-H Q5 shape, dim-broadcast chain
    "top_returning_customers",  # Q10 shape, fact-fact + top-20
    "minhash_lsh_neardups",     # banded-LSH dedup (shuffle-heavy)
    "arrow_text_stats",         # mapInArrow Python-boundary path
    # round-3 surface:
    "bloom_pruned_revenue",     # runtime-filter-shaped fact join
    "quality_calibration_map",  # quality scoring + rollup GK grids
    "dsir_importance_weights",  # gram explode + fp_log2 likelihood ratio
]


def _reset_pairs_cache() -> None:
    """Drop every CacheManager entry of the active session (the reset
    ``perfbench/batch.py`` runs before each query)."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


#: Iterative / multi-round queries whose join count scales with the
#: iteration count — the most plausible super-linear scaling risk
#: (round-4 VERDICT #4). Not headline-timed, but always in sf_scaling.
ITERATIVE_QUERIES = (
    "pagerank_neardup_graph",
    "neardup_components",
    "neardup_components_star",
    # r10 (r9 VERDICT #7): the auto variant's stall-probe overhead ("one
    # extra count per round") becomes a recorded per-round number instead
    # of a docstring estimate — compare its row against plain components.
    "neardup_components_auto",
    "decontamination_overlap",
    # the adaptive-bucket family: their sf ratio is the regression signal
    # for the constant-block-size guarantee (scripts/scale_probe.py
    # extends the same curve to x10/x30)
    "semantic_dedup_census",
    "embedding_neardup_pairs",
    "hard_negative_mining",
    # r9: the token-shuffle retrieval path (probe: 11.2x wall at x100);
    # its ratio regressing would mean the per-doc agg lost its map-side
    # combine or the explode started re-tokenizing per reference
    "bm25_search_topk",
)


def _calibration_probe(spark, reps: int = 3) -> float:
    """Fixed-cost host-load probe: min-of-reps seconds to sum a 400M-row
    codegen'd range. No IO, no data dependence, one tiny final agg — its
    runtime moves only with CPU availability on the shared host."""
    from pyspark.sql import functions as F

    best = None
    for _rep in range(reps + 1):  # +1: first pass is codegen warm-up
        t0 = time.perf_counter()
        spark.range(400_000_000).agg(F.sum("id")).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        if _rep > 0:
            best = dt if best is None else min(best, dt)
    return round(best, 3)


def _time_query(spark, build, name: str, sf_dir: str, reps: int = 5):
    """Warm-up + min-of-reps wall time for one registered query at one SF.

    reps defaults to 5 to MATCH the headline loop's min-of-5 (r5 ADVICE:
    sf-scaling ratios previously mixed protocols — headline big_sec was
    min-of-5 but small_sec min-of-2, so a noisy small-SF rep inflated the
    very ratio used to flag super-linear scaling)."""
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = None
    for _rep in range(reps):
        t0 = time.perf_counter()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def _sf_scaling(
    spark,
    registry,
    timings: dict[str, float],
    sf_dir: str,
    n_queries: int = 5,
) -> dict:
    """Re-time the n most expensive headline queries plus the iterative
    graph family at the next SF down (sf/10) and report the runtime ratio
    alongside the main-SF wall time."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    if not m:
        return {}
    small_sf = float(m.group(1)) / 10
    small_dir = re.sub(
        r"sf[0-9.]+", f"sf{small_sf:g}", sf_dir
    )
    if small_dir == sf_dir or not os.path.isdir(small_dir):
        return {}
    worst = sorted(timings, key=timings.get, reverse=True)[:n_queries]
    extras = [
        q for q in ITERATIVE_QUERIES if q in registry and q not in worst
    ]
    out: dict[str, dict] = {}
    for name in worst + extras:
        build = registry[name].spark
        if name in timings:
            big = timings[name]
        else:
            # iterative extras are not headline-timed: measure at the
            # main SF here (same warm-up + min-of-5 protocol)
            big = _time_query(spark, build, name, sf_dir)
        best = _time_query(spark, build, name, small_dir)
        ratio = big / best if best and best > 0 else -1.0
        out[name] = {
            "big_sec": round(big, 3),
            "small_sec": round(best, 3),
            "ratio": round(ratio, 2),
        }
    return {"small_sf": small_sf, "queries": out}


def _sessionizer_rate(spark, n_lines: int = 100_000) -> int:
    """Lines/sec draining a burst through parse+route+sessionize_invoices.

    applyInPandasWithState + ProcessingTimeTimeout deadlocks under
    availableNow/processAllAvailable on this Spark build (see
    .claude/skills/verify/SKILL.md), so the query runs on a processingTime
    trigger and the clock stops when cumulative numInputRows reaches the
    burst size — input fully absorbed by the stateful operator.

    Since r6 the first (cold) run is an untimed warm-up, matching the
    headline loop's policy: streaming-query startup + Python-worker spinup
    + codegen are one-time costs a long-running pipeline amortizes. The
    r6 warm numbers are therefore NOT comparable to r1-r5's cold ones
    (profiled cold-vs-warm gap: ~25k vs ~27.5k lines/s stateful, ~49k vs
    ~123k stateless).
    """
    best = -1
    for rep in range(2):  # rep 0 = untimed warm-up
        rate = _sessionizer_rate_once(spark, n_lines)
        if rep > 0:
            best = max(best, rate)
    return best


def _sessionizer_rate_once(spark, n_lines: int) -> int:
    import shutil
    import tempfile

    from spark_streaming_invoice_anomaly_detection_spark.streaming.parse import (
        parse_purchase_lines,
        route_events,
    )
    from spark_streaming_invoice_anomaly_detection_spark.streaming.session_state import (
        sessionize_invoices,
    )

    tmp = tempfile.mkdtemp(prefix="bench_sess_")
    try:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        with open(os.path.join(src, "burst.txt"), "w") as f:
            for i in range(n_lines):
                inv = 100000 + (i // 5)  # ~20k live sessions
                f.write(
                    f"{inv},85123A,ITEM,{i % 7 + 1},12/1/2010 8:26,2.55,"
                    "17850,United Kingdom\n"
                )
        raw = spark.readStream.format("text").load(src)
        events = route_events(parse_purchase_lines(raw))
        sessions = sessionize_invoices(
            events, trigger_seconds=1, expiry_ticks=2
        )
        q = (
            sessions.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        t0 = time.perf_counter()
        deadline = t0 + 240
        # Accumulate numInputRows per batchId across polls: Spark retains
        # only the last ~100 recentProgress entries, so re-summing the
        # capped list undercounts once the burst spans >100 triggers
        # (round-4 ADVICE). The 0.2 s poll against 1 s triggers never
        # lets >100 new entries land between reads.
        rows_by_batch: dict[int, int] = {}
        try:
            while time.perf_counter() < deadline:
                for p in q.recentProgress:
                    # max(), not overwrite (r5 ADVICE): on Spark builds
                    # that emit zero-row idle progress reusing the last
                    # batchId (pre-3.4), an overwrite would clobber a real
                    # batch's count with 0. This build emits
                    # QueryIdleEvent instead, but don't rely on that.
                    bid = p["batchId"]
                    rows_by_batch[bid] = max(
                        rows_by_batch.get(bid, 0), p["numInputRows"]
                    )
                if sum(rows_by_batch.values()) >= n_lines:
                    break
                time.sleep(0.2)
            dt = time.perf_counter() - t0
        finally:
            q.stop()
        absorbed = sum(rows_by_batch.values())
        return int(n_lines / dt) if absorbed >= n_lines and dt > 0 else -1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _drift_monitor_rate(spark, n_lines: int = 100_000) -> int:
    """Lines/sec draining a burst through the windowed PSI drift monitor
    (streaming/drift.py): 100 one-minute event-time windows, 20-bin
    conditional-count aggregation + fixed-point-log PSI per window.
    First run is an untimed warm-up (same policy as the other rates)."""
    best = -1
    for rep in range(2):
        rate = _drift_monitor_rate_once(spark, n_lines)
        if rep > 0:
            best = max(best, rate)
    return best


def _drift_monitor_rate_once(spark, n_lines: int) -> int:
    import shutil
    import tempfile

    from spark_streaming_invoice_anomaly_detection_spark.streaming.drift import (
        HistogramBaseline,
        psi_drift_monitor,
    )

    # fixed literal baseline: the bench measures the STREAM side; fitting
    # is a one-time train-time cost (uniform 100-per-bin over [0, 100))
    baseline = HistogramBaseline(v_lo=0.0, v_hi=100.0, counts=(100,) * 20)
    tmp = tempfile.mkdtemp(prefix="bench_drift_")
    try:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        with open(os.path.join(src, "burst.csv"), "w") as f:
            for i in range(n_lines):
                # 100 live 1-minute windows; divmod keeps minutes < 60
                # (r8 ADVICE: the old `mm = ... % 100` emitted 00:75:30-
                # style invalid times, silently nulled by the parser, so
                # the monitor only saw ~60% of the burst it was timed on)
                hh, mm = divmod((i // 1000) % 100, 60)
                ss = i % 60
                f.write(
                    f"2024-01-01 {hh:02d}:{mm:02d}:{ss:02d},{float(i % 100)}\n"
                )
        schema = "ts timestamp, v double"
        parsed = (
            spark.read.schema(schema).csv(src).filter("ts IS NOT NULL").count()
        )
        assert parsed == n_lines, (
            f"bench generator emitted unparseable timestamps: "
            f"{parsed}/{n_lines} survive the cast"
        )
        raw = spark.readStream.format("csv").schema(schema).load(src)
        mon = psi_drift_monitor(raw, baseline, "v", "ts", window="1 minute")
        counts: list[int] = []
        t0 = time.perf_counter()
        q = (
            mon.writeStream.outputMode("complete")
            .foreachBatch(lambda df, _e: counts.append(df.count()))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            return -1
        dt = time.perf_counter() - t0
        return int(n_lines / dt) if counts and dt > 0 else -1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _expectations_rate(spark, n_lines: int = 100_000) -> int:
    """Lines/sec draining a burst through the windowed expectation-suite
    checker (streaming/expectations.py): 3 contracts evaluated in ONE
    stateful aggregation over 100 one-minute windows."""
    best = -1
    for rep in range(2):
        rate = _expectations_rate_once(spark, n_lines)
        if rep > 0:
            best = max(best, rate)
    return best


def _expectations_rate_once(spark, n_lines: int) -> int:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from spark_streaming_invoice_anomaly_detection_spark.streaming.expectations import (
        Expectation,
        windowed_expectations,
    )

    tmp = tempfile.mkdtemp(prefix="bench_expect_")
    try:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        with open(os.path.join(src, "burst.csv"), "w") as f:
            for i in range(n_lines):
                hh, mm = divmod((i // 1000) % 100, 60)  # valid minutes (r8)
                ss = i % 60
                v = "" if i % 97 == 0 else str(float(i % 120))  # some nulls
                f.write(f"2024-01-01 {hh:02d}:{mm:02d}:{ss:02d},{v},UK\n")
        schema = "ts timestamp, v double, country string"
        parsed = (
            spark.read.schema(schema).csv(src).filter("ts IS NOT NULL").count()
        )
        assert parsed == n_lines, (
            f"bench generator emitted unparseable timestamps: "
            f"{parsed}/{n_lines} survive the cast"
        )
        raw = spark.readStream.format("csv").schema(schema).load(src)
        suite = [
            Expectation("v_not_null", F.col("v").isNotNull(), 0.02),
            Expectation(
                "v_in_range", (F.col("v") >= 0) & (F.col("v") < 100), 0.25
            ),
            Expectation(
                "country_known", F.col("country").isin("UK", "DE", "FR"), 0.0
            ),
        ]
        checked = windowed_expectations(raw, suite, "ts", window="1 minute")
        counts: list[int] = []
        t0 = time.perf_counter()
        q = (
            checked.writeStream.outputMode("complete")
            .foreachBatch(lambda df, _e: counts.append(df.count()))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            return -1
        dt = time.perf_counter() - t0
        return int(n_lines / dt) if counts and dt > 0 else -1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _streaming_parse_rate(spark, n_lines: int = 100_000) -> int:
    """Lines/sec draining a burst through parse_purchase_lines+route_events
    with an availableNow trigger (terminates deterministically).

    First run is an untimed warm-up since r6 (see _sessionizer_rate)."""
    best = -1
    for rep in range(2):  # rep 0 = untimed warm-up
        rate = _streaming_parse_rate_once(spark, n_lines)
        if rep > 0:
            best = max(best, rate)
    return best


def _streaming_parse_rate_once(spark, n_lines: int) -> int:
    import shutil
    import tempfile

    from spark_streaming_invoice_anomaly_detection_spark.streaming.parse import (
        parse_purchase_lines,
        route_events,
    )

    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        with open(os.path.join(src, "burst.txt"), "w") as f:
            for i in range(n_lines):
                inv = 100000 + (i // 4)
                qty = "notanint" if i % 97 == 0 else "6"
                f.write(
                    f"{inv},85123A,ITEM,{qty},12/1/2010 8:26,2.55,17850,"
                    "United Kingdom\n"
                )
        raw = spark.readStream.format("text").load(src)
        parsed = route_events(parse_purchase_lines(raw))
        counts: list[int] = []
        t0 = time.perf_counter()
        q = (
            parsed.writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: counts.append(df.count()))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            return -1  # did not drain; surface as sentinel, never hang
        dt = time.perf_counter() - t0
        return int(sum(counts) / dt) if dt > 0 else -1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
