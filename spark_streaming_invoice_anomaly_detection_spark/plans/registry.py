"""QuerySpec registry: every operator the engine claims, with its oracle.

Each entry pairs a Spark DataFrame builder with the ANSI-SQL equivalent that
DuckDB runs on the same parquet tables (tests/test_queries_oracle.py runs
every pair). Column names are aliased identically on both sides because
the comparison hashes values after sorting columns by name.

Non-SQL-expressible operators register with ``oracle=None`` and get a
rows-only check. Exactly two remain, each justified:

- ``kmeans_invoice_anomalies``: Lloyd's algorithm is an iterative
  fixed-point MLlib training loop — no ANSI-SQL twin exists; the seeded
  sweep's cost curve, elbow pick, exact top-2000 threshold, and anomaly
  filter invariants are pinned in tests/test_ml.py, and the downstream
  scoring arithmetic IS oracled via ``centroid_distance_score``.
- ``bisecting_invoice_anomalies``: same — hierarchical divisive KMeans
  training has no SQL expression; shares the pytest invariants above.

Floating-point discipline: aggregates whose accumulation order differs
between engines (sum/avg over doubles) are rounded to 2 decimals on BOTH
sides; min/max/count and integer-valued sums are exact and left unrounded.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    description: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    REGISTRY[spec.name] = spec
    return spec


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name -> Spark builder, in registration order."""
    _load_all()
    return {name: spec.spark for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """name -> DuckDB oracle SQL, in registration order (rows-only
    entries omitted)."""
    _load_all()
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers QuerySpecs (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Import order is registration order, which queries() preserves.
    from . import reference_queries  # noqa: F401
    from . import ml_queries  # noqa: F401
    from . import relational  # noqa: F401
    from . import advanced  # noqa: F401
    from . import extensions  # noqa: F401
    from . import sketch_queries  # noqa: F401
    from . import selection  # noqa: F401

    _LOADED = True
