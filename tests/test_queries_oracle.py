"""Every registered query vs its DuckDB oracle — the driver's gate, locally."""

from __future__ import annotations

import pytest

from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
    REGISTRY,
    oracle_sql,
    queries,
)

from .oracle import assert_matches_oracle, duckdb_con

queries()  # force registry load
ORACLE_NAMES = [n for n, s in REGISTRY.items() if s.oracle is not None]

# Queries whose correct result CAN be empty at small SF. Everything else
# must return rows — an empty result matching an empty oracle is a vacuous
# pass (three queries once validated nothing through dead filters).
EMPTY_OK = {"join_anti", "nation_volume_shipping"}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, con, name):
    spec = REGISTRY[name]
    spark.catalog.clearCache()
    df = spec.spark(spark, sf_dir)
    assert_matches_oracle(
        df, con, spec.oracle, name=name, allow_empty=name in EMPTY_OK
    )
    # builders release what they persist: a query run leaves no
    # CacheManager entry behind in the caller's session
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"[{name}] left an entry in Spark's CacheManager"
    )


ROWS_ONLY_NAMES = [n for n, s in REGISTRY.items() if s.oracle is None]


def test_queries_and_oracles_follow_registration_order():
    """queries() and oracle_sql() return REGISTRY insertion order;
    oracle_sql() omits exactly the rows-only entries."""
    assert list(queries()) == list(REGISTRY)
    assert list(oracle_sql()) == ORACLE_NAMES


#: Training queries run the full MLlib sweep at BUILD time (.fit before a
#: DataFrame exists), so reading .schema would train both models per pytest
#: run; their scalar output schema is pinned statically instead (same skip
#: set as test_plans.test_registry_plan_hygiene).
_FIT_AT_BUILD = {"kmeans_invoice_anomalies", "bisecting_invoice_anomalies"}


def test_fit_at_build_queries_have_canonicalizable_schema():
    """Cheap twin of the canonicalizable check for the two queries whose
    builders run the full training sweep: their output is a FIXED
    three-scalar-column projection (pinned as a shared constant the
    builders themselves select), so no training run is needed here."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.ml_queries import (
        ANOMALY_OUTPUT_COLUMNS,
    )

    assert ANOMALY_OUTPUT_COLUMNS == ("invoice_no", "cluster", "dist")
    assert set(_FIT_AT_BUILD) <= set(ROWS_ONLY_NAMES)


@pytest.mark.parametrize(
    "name", [n for n in ROWS_ONLY_NAMES if n not in _FIT_AT_BUILD]
)
def test_rows_only_schema_canonicalizable(spark, sf_dir, name):
    """The driver canonicalizes EVERY sampled query — including rows-only
    ones — by sorting rows on all columns in pandas, which cannot factorize
    array/map values (CORRECTNESS_r02: approx_quantiles_by_type crashed
    with 'unhashable type: list'). Pin that no rows-only query exposes a
    top-level container column; unpack to scalars instead."""
    from pyspark.sql.types import ArrayType, MapType

    schema = REGISTRY[name].spark(spark, sf_dir).schema
    bad = [
        f.name for f in schema.fields if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"[{name}] rows-only query returns container column(s) {bad}: the "
        f"driver's pandas sort_values canonicalizer will crash on these"
    )


def test_driver_canonicalizer_rejects_list_columns():
    """Documents WHY the schema pin above exists: pandas sort_values (the
    driver's row canonicalization) raises on list-valued columns."""
    import pandas as pd

    df = pd.DataFrame({"k": [1, 2], "v": [[1, 2], [3, 4]]})
    with pytest.raises(TypeError):
        df.sort_values(by=list(df.columns))
