"""Static NameError gate for every registered query.

lsh_capped_bucket_audit was once registered referencing an undefined
name ``T`` and never executed it — the plan-hygiene test would have
caught it, but only when someone RUNS the suite (it needs a Spark
session and minutes of wall clock). This gate needs neither: a
LOAD_GLOBAL whose name is in neither the function's module globals nor
builtins is a guaranteed NameError on first execution (function-local
imports bind via STORE_FAST/LOAD_FAST and closures via LOAD_DEREF, so
LOAD_GLOBAL is a precise signal). Scanning all ~182 specs takes
milliseconds, so this runs even in the fastest -k slices.
"""

from __future__ import annotations

import builtins
import dis
import types

from spark_streaming_invoice_anomaly_detection_spark.plans import registry


def _load_globals(code) -> set[str]:
    names = {
        ins.argval
        for ins in dis.get_instructions(code)
        if ins.opname == "LOAD_GLOBAL"
    }
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _load_globals(const)
    return names


def test_every_registered_query_resolves_its_globals():
    registry._load_all()
    bad: dict[str, set[str]] = {}
    for name, spec in registry.REGISTRY.items():
        fn = spec.spark
        missing = {
            g
            for g in _load_globals(fn.__code__)
            if g not in fn.__globals__ and not hasattr(builtins, g)
        }
        if missing:
            bad[name] = missing
    assert not bad, (
        f"queries referencing undefined globals (NameError on first "
        f"execution): {bad} — never register a query without running it"
    )
