"""COVERAGE.md self-check.

The registry count stated in COVERAGE.md drifted twice (176 stated /
178 actual, then 178 stated / 181 actual) — new registrations outran
the prose. This pins the LAST "Registry: N
queries (M oracled)" sentence in COVERAGE.md to the live registry so
the document cannot go stale a third time without failing the suite.
"""

from __future__ import annotations

import os
import re

from spark_streaming_invoice_anomaly_detection_spark.plans import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_doc_registry_count_is_current():
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        text = f.read()
    stated = re.findall(r"Registry: (\d+) queries \((\d+) oracled\)", text)
    assert stated, "COVERAGE.md lost its 'Registry: N queries' sentence"
    n_stated, oracled_stated = map(int, stated[-1])
    registry._load_all()
    n_actual = len(registry.REGISTRY)
    oracled_actual = sum(
        1 for s in registry.REGISTRY.values() if s.oracle is not None
    )
    assert (n_stated, oracled_stated) == (n_actual, oracled_actual), (
        f"COVERAGE.md says {n_stated} queries ({oracled_stated} oracled) "
        f"but the registry has {n_actual} ({oracled_actual} oracled) — "
        "update the LAST Registry sentence in COVERAGE.md"
    )


def test_coverage_doc_rows_only_paragraph_is_current():
    """The prose 'The N rows-only entries ...' once drifted
    (said five, registry had two) one paragraph below the test-pinned
    counts. Derive both the count word and the named set from
    ``registry.oracle_sql()`` so this paragraph cannot drift again."""
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        text = f.read()
    registry._load_all()
    actual = {
        n for n, s in registry.REGISTRY.items() if s.oracle is None
    }
    m = re.search(r"The (\w+) rows-only entries", text)
    assert m, "COVERAGE.md lost its 'The N rows-only entries' sentence"
    words = {"two": 2, "three": 3, "four": 4, "five": 5, "six": 6}
    stated_n = words.get(m.group(1), -1)
    assert stated_n == len(actual), (
        f"COVERAGE.md says '{m.group(1)}' rows-only entries, registry "
        f"has {len(actual)}: {sorted(actual)}"
    )
    # every actual rows-only query must be NAMED in that paragraph, and
    # no formerly-rows-only query may still be described as such
    para = text[m.start(): m.start() + 600]
    for name in actual:
        assert f"`{name}`" in para, (
            f"rows-only query {name} not named in the rows-only paragraph"
        )
    for name in (
        "approx_distinct_users",
        "hll_distinct_rollup",
        "label_embedding_spectrum",
    ):
        assert name not in actual, (
            f"{name} regressed to rows-only — it carried a full oracle "
            "since r9"
        )
