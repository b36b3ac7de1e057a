"""Smoke: the driver contract module loads and entry() produces rows."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    assert df.count() > 0
    assert "invoice_no" in df.columns


def test_entry_plan_is_composite(spark):
    """entry()'s plan must show a join AND a window
    (on top of the A1 hash aggregation) so the driver smoke check
    exercises >=3 operator classes."""
    mod = _load_entry_module()
    plan = mod.entry(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan, plan
    assert "Window" in plan, plan
    assert "HashAggregate" in plan, plan
    # the customer dim side must be broadcast, not shuffled
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_queries_and_oracles_aligned():
    mod = _load_entry_module()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(os_).issubset(set(qs)), "oracle_sql keys must be a subset of queries"
