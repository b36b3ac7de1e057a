"""Keep the environmental skip census honest.

Each environmental pytest skip is gated on a probe that re-runs every
session, so a newly available dependency flips its end-to-end test on
automatically. This module closes the loop in the other direction: it
asserts COVERAGE.md's "Environmental skip census" table still matches
what the probes actually report, so the documentation can't silently go
stale when the container gains (or loses) a dependency.
"""

from __future__ import annotations

import os
import re

#: The document whose census table the tests below check.
_CENSUS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md"
)


def _census_rows() -> dict[str, str]:
    """COVERAGE.md census table -> {dependency label: documented status}."""
    with open(_CENSUS_PATH) as f:
        text = f.read()
    section = text.split("## Environmental skip census", 1)[1]
    rows: dict[str, str] = {}
    for line in section.splitlines():
        m = re.match(r"\|\s*([^|]+?)\s*\|[^|]+\|\s*(absent|present)\s*\|", line)
        if m:
            rows[m.group(1)] = m.group(2)
    return rows


def _status(available: bool) -> str:
    return "present" if available else "absent"


def test_census_table_parses():
    rows = _census_rows()
    assert set(rows) == {
        "spark-sql-kafka connector jar",
        "Kafka broker at localhost:9092",
    }


def test_kafka_census_current(spark):
    from .test_kafka_integration import _broker_reachable, _kafka_jar_available

    rows = _census_rows()
    assert rows["spark-sql-kafka connector jar"] == _status(
        _kafka_jar_available(spark)
    )
    assert rows["Kafka broker at localhost:9092"] == _status(
        _broker_reachable()
    )
