"""Registry-wide oracle output-type parity scan.

The driver hashes pandas *representations*, so an oracle whose output
column is a DuckDB type pandas renders differently from Spark's —
HUGEINT (int128 -> float64 `83.0` vs Spark int64 `83`) or DECIMAL
(-> decimal.Decimal objects vs Spark float64) — hash-fails even when
every value is numerically identical.  That is exactly how
``token_budget_sample`` once hash-failed despite a green
local suite: the local harness compared *values*, not dtypes.

This module makes the class structurally impossible:

- ``test_no_oracle_emits_hugeint_or_decimal`` plans (never fetches)
  every registered oracle through DuckDB and fails on any
  HUGEINT/UHUGEINT/DECIMAL output column.
- ``test_scan_catches_known_bad_types`` proves the checker would have
  caught both real cases (windowed SUM(BIGINT) -> HUGEINT; a float
  literal list -> DECIMAL(18,17)) by running it on deliberately-bad SQL.

The value-side twin lives in ``tests/oracle.py``: ``_normalize`` now
asserts dtype parity between the Spark and DuckDB frames, so an
int64-vs-float64 column fails locally even when values compare equal.
"""

from __future__ import annotations

import pytest

from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
    REGISTRY,
    queries,
)

from .oracle import duckdb_con

queries()  # force registry load
ORACLE_NAMES = [n for n, s in REGISTRY.items() if s.oracle is not None]

#: DuckDB logical types whose pandas rendering diverges from Spark's.
#: HUGEINT/UHUGEINT -> float64 (or object) while Spark emits int64;
#: DECIMAL -> decimal.Decimal objects while Spark emits float64.
_BANNED_TYPE_PREFIXES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _banned_columns(rel) -> list[tuple[str, str]]:
    """(column, type) pairs in a DuckDB relation with driver-hash-unsafe
    output types.  Uses relation metadata only — no data is fetched, so
    scanning all ~175 oracles costs planning time, not execution time."""
    return [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if str(typ).upper().startswith(_BANNED_TYPE_PREFIXES)
    ]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_no_oracle_emits_hugeint_or_decimal(con, name):
    bad = _banned_columns(con.sql(REGISTRY[name].oracle))
    assert not bad, (
        f"[{name}] oracle output columns {bad} would hash-fail at the "
        f"driver: pandas renders these DuckDB types differently from "
        f"Spark's int64/float64 even when values are identical. "
        f"CAST them to BIGINT/DOUBLE in the oracle SQL."
    )


def test_scan_catches_known_bad_types(con):
    """The checker must flag both real-world instances of the class:
    ``token_budget_sample`` (windowed SUM(BIGINT) -> HUGEINT)
    and the latent ``benford_first_digit`` (float-literal list ->
    DECIMAL(18,17)) — reproduced here as minimal probes."""
    hugeint = con.sql(
        "SELECT SUM(x) OVER (ORDER BY x) AS cum FROM (VALUES (1::BIGINT)) t(x)"
    )
    assert _banned_columns(hugeint) == [("cum", "HUGEINT")]

    decimal = con.sql("SELECT ([0.30102999566398114])[1] AS p")
    bad = _banned_columns(decimal)
    assert len(bad) == 1 and bad[0][0] == "p" and bad[0][1].startswith("DECIMAL")

    # and the repaired oracles' shapes are clean
    fixed = con.sql(
        "SELECT CAST(SUM(x) OVER (ORDER BY x) AS BIGINT) AS cum, "
        "CAST(([0.30102999566398114])[1] AS DOUBLE) AS p "
        "FROM (VALUES (1::BIGINT)) t(x)"
    )
    assert _banned_columns(fixed) == []
