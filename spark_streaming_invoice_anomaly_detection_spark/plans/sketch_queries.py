"""Mergeable-sketch queries: HLL distinct rollup and Count-Min envelope.

The storable-partial discipline these pin down (sketch once per fine
grain, persist, re-merge for any coarser grain without rescanning) is the
incremental path for distinct/frequency questions at 100 TB — see
operators/sketches.py for the full scale argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches as sk
from ..sources.catalog import load_table
from .registry import QuerySpec, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


#: Error envelope the rollup check licenses: DataSketches HLL at the
#: default lg_k=12 has rsd ~1.6%; 5% = ~3 sigma, same bound the pytest
#: accuracy pin holds across all SFs.
_ROLLUP_BOUND = 0.05


def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via stored per-day HLL sketches,
    verified in-query against the exact count.

    Two grains from ONE pass over events: build (event_type, day) sketches
    — the storable partial a real deployment would persist — then union
    per type. Shuffle volume after the partial agg is one ~4 KiB sketch
    per (type, day), independent of row count. Sketch estimates are
    implementation-specific (no DuckDB twin), so the externally-checked
    output joins the tiny per-type rollup against an exact-distinct twin
    (verification harness only — the production path stops at the rollup)
    and hashes exact_users + a within-5% flag whose oracle twin is literal
    TRUE. Union-exactness (merged partials == direct sketch) stays pinned
    in tests/test_sketches.py.
    """
    ev = _t(spark, sf_dir, "events")
    daily = sk.distinct_sketches(
        ev.withColumn("day", F.to_date("ts")),
        ["event_type", "day"],
        "user_id",
    )
    per_type = sk.rollup_distinct(daily, ["event_type"], estimate_col="approx_users")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        per_type.join(exact, "event_type")  # both sides one row per type
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(
                    F.col("approx_users").cast("double")
                    - F.col("exact_users").cast("double")
                )
                <= F.lit(_ROLLUP_BOUND) * F.col("exact_users").cast("double")
            ).alias("rollup_within_bound"),
        )
    )


register(
    QuerySpec(
        name="hll_distinct_rollup",
        description="per-type distinct users by unioning stored per-day "
        "DataSketches HLL sketches, checked in-query: exact twin column + "
        "within-5pct flag (estimates are engine-specific; union-exactness "
        "pinned in pytest)",
        spark=q_hll_distinct_rollup,
        oracle="""
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   TRUE AS rollup_within_bound
            FROM events GROUP BY event_type
        """,
    )
)


#: CMS parameters for the oracled query. depth/width derive from these
#: (cms_depth_width): ceil(-ln(1-0.99)/ln 2) = 7, ceil(2/0.01) = 200.
_CMS_EPS, _CMS_CONF, _CMS_SEED = 0.01, 0.99, 42
_CMS_DEPTH, _CMS_WIDTH = sk.cms_depth_width(_CMS_EPS, _CMS_CONF)
#: Serialized size: int version + long total + int depth + int width
#: + depth longs (hash seeds) + depth*width longs (counters).
_CMS_BYTES = 4 + 8 + 4 + 4 + 8 * _CMS_DEPTH + 8 * _CMS_DEPTH * _CMS_WIDTH


def q_cms_frequency_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch per event_type with its deterministic envelope.

    The counters are approximate but the envelope is exact: total_count
    increments on every insert and depth/width/serialized-size are pure
    functions of (eps, confidence) — so the query carries a full hash
    oracle while still exercising the sketch aggregate end-to-end. The
    counter-table invariants (each row sums to total_count; point
    estimates over-count only) are pinned in tests/test_sketches.py.
    """
    ev = _t(spark, sf_dir, "events")
    return sk.cms_summary(
        ev, ["event_type"], "user_id", _CMS_EPS, _CMS_CONF, _CMS_SEED
    )


register(
    QuerySpec(
        name="cms_frequency_envelope",
        description="Count-Min sketch per event_type; exact envelope "
        "(total_count, depth, width, wire size) under a full hash oracle",
        spark=q_cms_frequency_envelope,
        oracle=f"""
            SELECT event_type,
                   {_CMS_DEPTH} AS depth,
                   {_CMS_WIDTH} AS width,
                   CAST(count(*) AS BIGINT) AS total_count,
                   {_CMS_BYTES} AS sketch_bytes
            FROM events
            GROUP BY event_type
        """,
    )
)
