"""bench.py smoke: the driver's per-round benchmark entry must print one
parseable JSON line with the contract keys — a broken bench forfeits the
round's BENCH record, so it gets the same CI protection as the queries."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest


@pytest.mark.slow
def test_bench_prints_contract_json():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    line = lines[-1]
    # Driver tail-capture contract (r9 VERDICT #1): the driver keeps the
    # LAST 2000 bytes of stdout and parses the final line — r9's output
    # outgrew that and the round's BENCH record came back parsed:null.
    assert len(line) < 1900, f"final bench line {len(line)} bytes"
    rec = json.loads(line)
    assert rec["unit"] == "sec"
    assert rec["value"] > 0
    assert rec["sf"] == 0.001
    assert len(rec["queries"]) == 18
    assert all(v >= 0 for v in rec["queries"].values())
    # streaming drain rates: positive, and far above the reference
    # simulator's ~200 rec/s ceiling (-1 = did-not-drain sentinel)
    assert rec["streaming_parse_lines_per_sec"] > 1000
    assert rec["drift_monitor_lines_per_sec"] > 1000
    assert rec["expectations_lines_per_sec"] > 1000
    # sf_scaling moved to its own earlier line (it grows with every watched
    # query); at sf0.001 there is no sf0.0001 directory, so it's empty —
    # but the line itself must exist and parse.
    scaling = json.loads(lines[-2])
    assert scaling["metric"] == "sf_scaling"


def test_final_line_budget_at_current_query_count():
    """Static guard (no Spark): the final headline line, rebuilt with the
    REAL key set at the CURRENT headline-query count and worst-plausible
    value widths, must fit the 1900-byte driver tail budget. Adding a
    19th headline query or a new top-level key fails here in
    milliseconds rather than as a parsed:null BENCH artifact."""
    import bench

    worst = {
        "metric": "headline_queries_total_runtime",
        "value": 99999.999,
        "unit": "sec",
        "queries": {name: 9999.999 for name in bench.HEADLINE},
        "sf": 0.001,
        "streaming_parse_lines_per_sec": 99_999_999,
        "sessionizer_lines_per_sec": 99_999_999,
        "drift_monitor_lines_per_sec": 99_999_999,
        "expectations_lines_per_sec": 99_999_999,
        "calibration_range_sum_sec": 9999.999,
        "calibration_pre_sec": 9999.999,
        "calibration_post_sec": 9999.999,
        "bench_protocol": "cold-per-rep-r7",
    }
    line = json.dumps(worst)
    assert len(line) < bench._LINE_BUDGET, (
        f"{len(line)} bytes >= {bench._LINE_BUDGET}: the headline line no "
        "longer fits the driver's 2000-byte tail capture — move a key to "
        "its own earlier print (like sf_scaling) or trim the headline set"
    )
