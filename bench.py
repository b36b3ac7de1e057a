"""Cache reset shared with the benchmark: ``perfbench/batch.py`` imports
``_reset_pairs_cache`` from here and calls it before every timed query."""

from __future__ import annotations


def _reset_pairs_cache() -> None:
    """Drop every CacheManager entry of the active session."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()
