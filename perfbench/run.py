"""Benchmark entry point for the invoice engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads:

- ``stream_paced``   open loop, 1,000 lines/s into ``start_pipeline``
- ``batch_headline`` the 18 headline registry queries at sf0.1

Set-up (session start, input generation, program preparation) is timed as
``setup_s``; input generation is repeated and its median counted. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Any failed check exits non-zero without that line. Every
file a run writes goes under ``.perfbench_work/`` in the checkout (removed
at exit), except the traced run's spans, kept in
``.perfbench_out/spans-<workload>.jsonl`` (the latest traced run of each
workload).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from common import (  # noqa: E402
    ROOT,
    BenchError,
    RssSampler,
    Tracer,
    WorkDir,
    descendants,
    fold_event_log,
    log,
    quantile,
    read_event_log,
    start_spark,
)
from metrics import END_TO_END, PER_LAYER  # noqa: E402

INPUT_REPEATS = 3


def _workload(args, work: WorkDir, tracer: Tracer):
    if args.workload == "stream_paced":
        from stream import StreamWorkload

        return StreamWorkload(args.seed, work, tracer, args.seconds)
    from batch import BatchWorkload

    return BatchWorkload(args.seed, work, tracer)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run(args) -> dict:
    try:
        import spark_streaming_invoice_anomaly_detection_spark  # noqa: F401
    except ImportError as e:
        raise BenchError(f"the invoice engine is not importable from {ROOT}: {e}")
    trace = bool(args.trace)
    tracer = Tracer(trace)
    work = WorkDir()
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, f"perfbench-{args.workload}", trace)
        session_s = time.perf_counter() - t0
        wl = _workload(args, work, tracer)
        input_s = []
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            wl.prepare_inputs()
            input_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("setup.program"):
            wl.prepare_program(spark)
        program_s = time.perf_counter() - t0
        setup_s = session_s + median(input_s) + program_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, inputs {median(input_s):.2f}, program {program_s:.2f})")

        res = wl.measure(spark, args.seconds)
        lat = res["latencies"]
        peak_mb = sampler.stop()
        e2e = {
            "setup_s": setup_s,
            "total_s": res["total_s"],
            "latency_p50_s": median(lat),
            "latency_p99_s": quantile(lat, 0.99),
        }
        log(f"{args.workload}: {len(lat)} latency samples")
        layer = wl.layer
        layer["mem.peak_rss_mb"] = peak_mb
        if trace:
            _stop_spark(spark)
            spark = None
            groups, stages = fold_event_log(read_event_log(work))
            wl.fold_trace(groups, stages, tracer.spans)
            layer["trace.total_s"] = res["total_s"]
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{args.workload}.jsonl"))
        for name, value in {**e2e, **layer}.items():
            log(f"  {name} = {value}")
        if trace:
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in PER_LAYER}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in END_TO_END}
        return {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            _stop_spark(spark)
        work.close()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("stream_paced", "batch_headline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        result = run(args)
    except BenchError as e:
        log(f"FAILED: {e}")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
