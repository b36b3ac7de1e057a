"""Entry contract of the engine (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` compares
against the matching ``oracle_sql()[name]`` run in DuckDB (row-count +
schema + order-insensitive value-hash), both in registration order.

All real logic lives in ``spark_streaming_invoice_anomaly_detection_spark``
(the engine package); this module is a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_streaming_invoice_anomaly_detection_spark.plans import registry as _registry

_FLAGSHIP_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Composite flagship on /root/testdata/sf0.001; driver checks rows>0.

    Invoice featurization (SURVEY.md A1/F2, reference Clustering.scala:45-58)
    — one hash aggregation with map-side combine — joined to orders and a
    broadcast customer dim, then ranked per customer with a window: the
    smoke check exercises agg + join + broadcast + window in one plan.
    """
    from spark_streaming_invoice_anomaly_detection_spark.plans.reference_queries import (
        q_invoice_featurize_ranked,
    )

    return q_invoice_featurize_ranked(spark, _FLAGSHIP_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for each oracle-checkable query."""
    return _registry.oracle_sql()
