"""General relational operator surface (SURVEY.md §7 Phase 1).

The reference composes only scan/filter/project/hash-agg (§2.3 note: no
joins, sorts, set-ops, or window functions). A complete engine needs them,
so each is implemented Spark-first over the driver tables and oracle-checked.

Plan-shape notes (verified via .explain, see tests/test_plans.py):
- dim joins (region/nation/supplier/customer) -> BroadcastHashJoin
- fact-fact joins -> SortMergeJoin with AQE free to switch
- aggregations -> partial+final HashAggregate (map-side combine)
- top-k -> TakeOrderedAndProject (no global sort)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import (
    exact_avg,
    exact_avg_sql,
    exact_sum,
    exact_sum_sql,
    scaled_long,
)
from ..sources.catalog import load_table
from .registry import QuerySpec, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1 shape (multi-agg hash aggregate, few groups)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantities are integer-valued (exact); money sums of k-decimal data
    are either rounded back to the decimal grid (sum_base_price) or
    aggregated in scaled int64 (products widen to 4/6 decimals) — see
    functions.exactmath for the cross-engine discipline.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            exact_sum(disc_price, 4).alias("sum_disc_price"),
            exact_sum(charge, 6).alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            exact_avg("l_extendedprice", 2).alias("avg_price"),
            exact_avg("l_discount", 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register(
    QuerySpec(
        name="pricing_summary",
        description="TPC-H Q1 shape: 8-aggregate hash agg over lineitem",
        spark=q_pricing_summary,
        oracle=f"""
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   {exact_sum_sql('l_extendedprice * (1 - l_discount)', 4)}
                     AS sum_disc_price,
                   {exact_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}
                     AS sum_charge,
                   sum(l_quantity) / count(*) AS avg_qty,
                   {exact_avg_sql('l_extendedprice', 2)} AS avg_price,
                   {exact_avg_sql('l_discount', 2)} AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
    )
)

# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


def q_join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier ⋈ nation ⋈ region — a broadcast-hash chain.

    nation (25 rows) and region (5 rows) are canonical broadcast sides; no
    shuffle of supplier happens at any scale.
    """
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
        )
    )


register(
    QuerySpec(
        name="join_broadcast_dims",
        description="broadcast-hash join chain supplier⋈nation⋈region + agg",
        spark=q_join_broadcast_dims,
        oracle="""
            SELECT r.r_name AS region_name,
                   count(*) AS n_suppliers,
                   round(sum(s.s_acctbal), 2) AS total_acctbal
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
    )
)


def q_join_fact_fact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem ⋈ customer, revenue per market segment (Q3 shape).

    lineitem⋈orders is the fact-fact join: sort-merge/shuffle-hash on
    l_orderkey with AQE free to re-plan; customer joins in on the already
    aggregated (smaller) side at real scale — here Catalyst broadcasts it.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="join_fact_fact_revenue",
        description="TPC-H Q3 shape: lineitem⋈orders⋈customer, revenue per segment",
        spark=q_join_fact_fact_revenue,
        oracle=f"""
            SELECT c.c_mktsegment AS mktsegment,
                   {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
    )
)


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one 'F' order — left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


register(
    QuerySpec(
        name="join_semi",
        description="left-semi join: customers with >=1 cancelled-status order",
        spark=q_join_semi,
        oracle="""
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        """,
    )
)


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all — left-anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


register(
    QuerySpec(
        name="join_anti",
        description="left-anti join: customers with no orders",
        spark=q_join_anti,
        oracle="""
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
    )
)


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer LEFT JOIN orders with per-customer counts (nulls -> 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


register(
    QuerySpec(
        name="join_left_outer",
        description="left outer join customer->orders, count/sum with null handling",
        spark=q_join_left_outer,
        oracle="""
            SELECT c.c_custkey,
                   count(o.o_orderkey) AS n_orders,
                   round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        """,
    )
)

# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer — row_number with tiebreak.

    The canonical distributed top-k-per-group: one shuffle on the partition
    key, per-partition sort, early limit. Tiebreak on o_orderkey keeps it
    deterministic (oracle-safe).
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


register(
    QuerySpec(
        name="topk_per_group",
        description="window row_number top-3 orders per customer (deterministic tiebreak)",
        spark=q_topk_per_group,
        oracle="""
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey)
                         AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
    )
)


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum of event values ordered by time (analytic window)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


register(
    QuerySpec(
        name="window_running_sum",
        description="analytic window: per-user cumulative sum ordered by ts",
        spark=q_window_running_sum,
        oracle="""
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW), 2) AS running_value
            FROM events
        """,
    )
)


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap per user: lag() on ts, seconds between events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts))
        .cast("bigint")
        .alias("gap_seconds"),
    )


register(
    QuerySpec(
        name="window_lag_delta",
        description="window lag: whole-second gap since previous event per user",
        spark=q_window_lag_delta,
        oracle="""
            SELECT event_id, user_id,
                   CAST(epoch(date_trunc('second', ts)) -
                        epoch(date_trunc('second',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                        AS BIGINT) AS gap_seconds
            FROM events
        """,
    )
)


def q_window_rank_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank of event values within event_type (tie-stable)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"))
    return ev.select(
        "event_id",
        "event_type",
        F.rank().over(w).alias("value_rank"),
        F.dense_rank().over(w).alias("value_dense_rank"),
    )


register(
    QuerySpec(
        name="window_rank_by_value",
        description="rank + dense_rank within event_type (deterministic under ties)",
        spark=q_window_rank_by_value,
        oracle="""
            SELECT event_id, event_type,
                   rank() OVER (PARTITION BY event_type ORDER BY value DESC)
                     AS value_rank,
                   dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC)
                     AS value_dense_rank
            FROM events
        """,
    )
)

# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------


def q_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


register(
    QuerySpec(
        name="rollup_qty",
        description="ROLLUP over (returnflag, linestatus) with subtotals + grand total",
        spark=q_rollup_qty,
        oracle="""
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty, count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
    )
)


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


register(
    QuerySpec(
        name="cube_orders",
        description="CUBE over (status, priority), count + rounded sum",
        spark=q_cube_orders,
        oracle="""
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
    )
)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (same Catalyst Expand as cube)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


register(
    QuerySpec(
        name="grouping_sets",
        description="GROUPING SETS ((status),(priority),()) via SQL",
        spark=q_grouping_sets,
        oracle="""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
    )
)

# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both open ('O') and finished ('F') orders — INTERSECT."""
    o = _t(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return open_c.intersect(fin_c)


register(
    QuerySpec(
        name="set_ops",
        description="INTERSECT of distinct customer sets (open vs finished orders)",
        spark=q_set_ops,
        oracle="""
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        """,
    )
)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with open orders but no finished ones — EXCEPT."""
    o = _t(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return open_c.exceptAll(fin_c)


register(
    QuerySpec(
        name="set_except",
        description="EXCEPT ALL on distinct customer key sets",
        spark=q_set_except,
        oracle="""
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
            EXCEPT ALL
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        """,
    )
)


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (dedup) of nation keys present in customers vs suppliers."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


register(
    QuerySpec(
        name="union_distinct",
        description="UNION + DISTINCT over customer/supplier nation keys",
        spark=q_union_distinct,
        oracle="""
            SELECT c_nationkey AS nationkey FROM customer
            UNION
            SELECT s_nationkey AS nationkey FROM supplier
        """,
    )
)


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + grouped distinct counts (Expand-based two-phase distinct agg)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


register(
    QuerySpec(
        name="count_distinct",
        description="count(DISTINCT custkey) per order priority",
        spark=q_count_distinct,
        oracle="""
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders
            FROM orders
            GROUP BY o_orderpriority
        """,
    )
)

# ---------------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------------


def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by price — TakeOrderedAndProject, not a full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


register(
    QuerySpec(
        name="order_limit",
        description="ORDER BY DESC LIMIT 10 (TakeOrderedAndProject)",
        spark=q_order_limit,
        oracle="""
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
    )
)

# ---------------------------------------------------------------------------
# Scalar function surface: strings, dates, JSON, conditional bucketing
# ---------------------------------------------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
    )


register(
    QuerySpec(
        name="string_funcs",
        description="string surface: upper/length/substr/concat_ws/regexp/split",
        spark=q_string_funcs,
        oracle="""
            SELECT p_partkey,
                   upper(p_name) AS name_upper,
                   CAST(length(p_name) AS INT) AS name_len,
                   substring(p_name, 1, 5) AS name_prefix,
                   concat_ws('|', p_brand, p_type) AS brand_type,
                   regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
                   string_split(p_name, ' ')[1] AS first_word
            FROM part
        """,
    )
)


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("2025-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_until_2025"
        ),
    )


register(
    QuerySpec(
        name="date_funcs",
        description="date surface: year/month/day/trunc/date_add/datediff",
        spark=q_date_funcs,
        oracle="""
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS INT) AS order_year,
                   CAST(month(o_orderdate) AS INT) AS order_month,
                   CAST(day(o_orderdate) AS INT) AS order_day,
                   date_trunc('month', o_orderdate) AS month_start,
                   CAST(o_orderdate AS DATE) + 30 AS due_date,
                   CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                  DATE '2025-01-01') AS INT) AS days_until_2025
            FROM orders
        """,
    )
)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events.props payload column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


register(
    QuerySpec(
        name="json_extract",
        description="get_json_object over events.props ($.k as int)",
        spark=q_json_extract,
        oracle="""
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
            FROM events
        """,
    )
)


def q_conditional_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN value bucketing + conditional aggregation (pivot shape)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high")
    )
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        )
    )


register(
    QuerySpec(
        name="conditional_bucketing",
        description="CASE bucketing + conditional counts (manual pivot)",
        spark=q_conditional_bucketing,
        oracle="""
            SELECT CASE WHEN value < 50 THEN 'low'
                        WHEN value < 200 THEN 'mid'
                        ELSE 'high' END AS bucket,
                   count(*) AS n,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
            FROM events
            GROUP BY 1
        """,
    )
)


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per event_type (stddev/var, rounded)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        exact_avg("value", 2).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("stddev_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


register(
    QuerySpec(
        name="stats_agg",
        description="stddev_samp/var_samp/avg/min/max per event_type",
        spark=q_stats_agg,
        oracle=f"""
            SELECT event_type,
                   {exact_avg_sql('value', 2)} AS avg_value,
                   round(stddev_samp(value), 4) AS stddev_value,
                   round(var_samp(value), 4) AS var_value,
                   min(value) AS min_value,
                   max(value) AS max_value
            FROM events
            GROUP BY event_type
        """,
    )
)


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery via Spark SQL (decorrelated by Catalyst)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer_sq c
        WHERE c_acctbal > 0 AND EXISTS (
            SELECT 1 FROM orders_sq o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
        )
        """
    )


register(
    QuerySpec(
        name="exists_subquery",
        description="correlated EXISTS subquery (Catalyst decorrelation -> semi join)",
        spark=q_exists_subquery,
        oracle="""
            SELECT c_custkey, c_acctbal FROM customer c
            WHERE c_acctbal > 0 AND EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
            )
        """,
    )
)


def q_scalar_subquery_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price — scalar subquery."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_ssq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders_ssq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_ssq)
        """
    )


register(
    QuerySpec(
        name="scalar_subquery_agg",
        description="scalar aggregate subquery in WHERE (above-average filter)",
        spark=q_scalar_subquery_agg,
        oracle="""
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        """,
    )
)


# ---------------------------------------------------------------------------
# Skew-robust join: salting (operators/layout.py). The salt is internal —
# the result is row-identical to the plain join, which the oracle verifies.
# ---------------------------------------------------------------------------


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ supplier via an 8-way salted join, qty per nation.

    The salt spreads any hot l_suppkey over 8 reducers (supplier, the
    small side, is replicated 8x — cheap); dropping the salt restores the
    exact unsalted result, so this plan is interchangeable with the plain
    join wherever a key-skew hotspot shows up at scale.
    """
    from ..operators.layout import salted_join

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_suppkey", "suppkey"
    )
    s = _t(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "suppkey")
    return (
        salted_join(li, s, on="suppkey", num_salts=8)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="join_salted_skew",
        description="8-way salted skew join lineitem⋈supplier, qty per nation "
        "(salt internal; result identical to the plain join)",
        spark=q_join_salted_skew,
        oracle="""
            SELECT s.s_nationkey AS nationkey,
                   sum(l.l_quantity) AS sum_qty,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey
        """,
    )
)


def q_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by return flag, shaped for runtime Bloom
    semi-join reduction (operators/layout.py:bloom_reduced_join).

    The build side (orders filtered to 1-URGENT, ~20% of orders) is
    selective enough that Catalyst's injected Bloom filter drops most
    lineitem rows before the join shuffle once the at-scale size gates
    pass (probe scan > 10 GB). The declarative join means Catalyst
    broadcasts at tiny SF and switches to shuffle+bloom at 100 TB — both
    plans produce the identical rows the oracle checks; the injected
    `might_contain` shape itself is pinned by
    tests/test_layout.py::TestRuntimeBloomFilter.
    """
    from ..operators.layout import bloom_reduced_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        bloom_reduced_join(li, o, "l_orderkey", "o_orderkey")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="bloom_pruned_revenue",
        description="urgent-order revenue per return flag; fact ⋈ selective "
        "subset shaped for Catalyst's runtime Bloom semi-join reduction",
        spark=q_bloom_pruned_revenue,
        oracle=f"""
            SELECT l.l_returnflag AS returnflag,
                   {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderpriority = '1-URGENT'
            GROUP BY l.l_returnflag
        """,
    )
)


def q_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew census of lineitem.l_suppkey (operators/layout.py):
    the pre-flight check that decides between a plain, salted, or
    AQE-skew-hinted join at scale."""
    from ..operators.layout import key_skew_stats

    return key_skew_stats(_t(spark, sf_dir, "lineitem"), "l_suppkey")


register(
    QuerySpec(
        name="skew_diagnostics",
        description="per-key cardinality census (n_keys, max/avg, skew "
        "ratio) for lineitem.l_suppkey",
        spark=q_skew_diagnostics,
        oracle="""
            WITH counts AS (
                SELECT l_suppkey, count(*) AS cnt
                FROM lineitem GROUP BY l_suppkey
            )
            SELECT count(*) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   max(cnt) AS max_cnt,
                   CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avg_cnt,
                   CAST(max(cnt) AS DOUBLE)
                   / (CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                     AS skew_ratio
            FROM counts
        """,
    )
)


def q_join_five_way_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local supplier volume — the 6-table join chain
    customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region with the
    extra c_nationkey = s_nationkey equi-constraint.

    Join strategy at scale: region/nation/supplier broadcast (the dim
    chain prunes supplier to one region BEFORE it reaches the facts);
    orders filters on date then shuffles against lineitem on l_orderkey
    (the only fact-fact exchange); customer joins on o_custkey. AQE is
    free to reorder/convert — the declared shape only fixes what must
    shuffle (facts) and what must not (dims).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(
                s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
                    F.broadcast(r), n.n_regionkey == r.r_regionkey
                )
            ),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="join_five_way_volume",
        description="TPC-H Q5 shape: 6-table join chain, revenue per nation "
        "for one region and a 2-year date band",
        spark=q_join_five_way_volume,
        oracle=f"""
            SELECT n.n_name,
                   {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n.n_name
        """,
    )
)


def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-preserving set ops: (priorities of 'F' orders)
    INTERSECT ALL / EXCEPT ALL (priorities of 'P' orders), tagged and
    unioned. Bag semantics — each duplicate row survives per its
    min/difference multiplicity, which distinct-based set ops destroy.
    """
    o = _t(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderpriority", (F.col("o_totalprice") > 200000).alias("big")
    )
    p_side = o.filter(F.col("o_orderstatus") == "P").select(
        "o_orderpriority", (F.col("o_totalprice") > 200000).alias("big")
    )
    inter = f_side.intersectAll(p_side).select(
        F.lit("intersect_all").alias("op"), "o_orderpriority", "big"
    )
    exc = f_side.exceptAll(p_side).select(
        F.lit("except_all").alias("op"), "o_orderpriority", "big"
    )
    return inter.unionByName(exc)


register(
    QuerySpec(
        name="set_ops_all",
        description="INTERSECT ALL / EXCEPT ALL (bag semantics) over order "
        "priority tuples",
        spark=q_set_ops_all,
        oracle="""
            WITH f_side AS (
                SELECT o_orderpriority, o_totalprice > 200000 AS big
                FROM orders WHERE o_orderstatus = 'F'
            ),
            p_side AS (
                SELECT o_orderpriority, o_totalprice > 200000 AS big
                FROM orders WHERE o_orderstatus = 'P'
            )
            SELECT 'intersect_all' AS op, * FROM
                (SELECT * FROM f_side INTERSECT ALL SELECT * FROM p_side)
            UNION ALL
            SELECT 'except_all' AS op, * FROM
                (SELECT * FROM f_side EXCEPT ALL SELECT * FROM p_side)
        """,
    )
)


def q_top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer over a
    quarter, top 20. Join-agg-then-topk: the aggregation shrinks the join
    output to one row per customer BEFORE the top-k, and the top-k is
    TakeOrdered (no global sort). Tie-break on c_custkey keeps the LIMIT
    deterministic for the oracle.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_return_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


register(
    QuerySpec(
        name="top_returning_customers",
        description="TPC-H Q10 shape: per-customer returned-item revenue, "
        "top 20 with deterministic tie-break",
        spark=q_top_returning_customers,
        oracle=f"""
            SELECT c.c_custkey, c.c_name, n.n_name,
                   {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}
                     AS revenue,
                   count(*) AS n_return_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c.c_custkey, c.c_name, n.n_name
            ORDER BY revenue DESC, c.c_custkey ASC
            LIMIT 20
        """,
    )
)


#: GK sketch accuracy: while a group holds <= this many rows the sketch is
#: EXACT (it has not compressed), and Spark's returned element matches
#: DuckDB's quantile_disc on every probe (n=1..29 + 40 tied trials, zero
#: divergence) — which is what licenses the hash oracle below at the
#: driver's scale factors (~2k rows/group at sf0.01). Past this size the
#: sketch is approximate and the oracle would need the rows-only fallback.
_GK_ACCURACY = 50_000


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles of events.value per event_type
    (percentile_approx, Greenwald-Khanna sketch): the single-pass,
    mergeable path for quantiles over data too big to sort. In the exact
    regime (group size <= accuracy) the sketch returns a true order
    statistic matching DuckDB's quantile_disc bit-for-bit, so this carries
    a full hash oracle; the accuracy bound for the approximate regime is
    additionally pytest-pinned (tests/test_extensions.py).
    """
    ev = _t(spark, sf_dir, "events")
    # Scalar projections, not the raw quartile array: the driver's
    # canonicalizer sorts result columns in pandas, which cannot factorize
    # array values (CORRECTNESS_r02 err: "unhashable type: 'list'").
    quartiles = F.percentile_approx("value", [0.25, 0.5, 0.75], _GK_ACCURACY)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.element_at(quartiles, 1).alias("q25_approx"),
        F.element_at(quartiles, 2).alias("q50_approx"),
        F.element_at(quartiles, 3).alias("q75_approx"),
    )


register(
    QuerySpec(
        name="approx_quantiles_by_type",
        description="per-type quartiles of events.value via mergeable GK "
        "sketch (exact regime -> full quantile_disc hash oracle)",
        spark=q_approx_quantiles,
        oracle="""
            SELECT event_type,
                   count(*) AS n,
                   quantile_disc(value, 0.25) AS q25_approx,
                   quantile_disc(value, 0.5) AS q50_approx,
                   quantile_disc(value, 0.75) AS q75_approx
            FROM events
            GROUP BY event_type
        """,
    )
)


def q_mad_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier census: median / MAD (median absolute
    deviation) and the count of values beyond 3 MADs — the
    outlier-detection rule that, unlike mean ± k·stddev, a few extreme
    values cannot drag (the robust-statistics twin of the reference's
    distance-threshold anomaly rule, InvoicePipeline.scala:334-339).

    Two passes, both mergeable: each median comes from the GK sketch
    (exact regime per _GK_ACCURACY, the convention licensed by
    approx_quantiles_by_type), broadcast back as a tiny per-type map.
    The deviation column is one IEEE subtract/abs on identical doubles —
    bit-identical across engines — so the final census carries a full
    hash oracle.
    """
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, _GK_ACCURACY).alias("med")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("med")))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile_approx("dev", 0.5, _GK_ACCURACY).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count_if(F.col("dev") > 3 * F.col("mad")).alias("n_outliers"),
        )
    )


register(
    QuerySpec(
        name="mad_outlier_census",
        description="median / MAD robust outlier census per event type "
        "(two mergeable GK passes, 3-MAD rule)",
        spark=q_mad_outlier_census,
        oracle="""
            WITH med AS (
                SELECT event_type, quantile_disc(value, 0.5) AS med
                FROM events GROUP BY event_type
            ),
            dev AS (
                SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
                FROM events e JOIN med m USING (event_type)
            ),
            mad AS (
                SELECT event_type, quantile_disc(dev, 0.5) AS mad
                FROM dev GROUP BY event_type
            )
            SELECT d.event_type,
                   count(*) AS n,
                   min(d.med) AS med,
                   min(a.mad) AS mad,
                   count(*) FILTER (WHERE d.dev > 3 * a.mad) AS n_outliers
            FROM dev d JOIN mad a USING (event_type)
            GROUP BY d.event_type
        """,
    )
)


def q_regex_extract_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture groups: split o_orderpriority '<digit>-<WORD>' into
    typed parts, plus a count of vowels per priority word. Group indexing
    and empty-match behavior agree across Java regex and RE2 for this
    anchored ASCII pattern.
    """
    o = _t(spark, sf_dir, "orders")
    pat = r"^(\d)-(\w+)"
    return o.select(
        "o_orderkey",
        F.regexp_extract(F.col("o_orderpriority"), pat, 1)
        .cast("int")
        .alias("priority_num"),
        F.regexp_extract(F.col("o_orderpriority"), pat, 2).alias(
            "priority_word"
        ),
        F.regexp_count(F.col("o_orderpriority"), F.lit("[AEIOU]")).alias(
            "n_vowels"
        ),
    )


register(
    QuerySpec(
        name="regex_extract_groups",
        description="regex capture groups + match counting over order "
        "priorities",
        spark=q_regex_extract_groups,
        oracle=r"""
            SELECT o_orderkey,
                   CAST(regexp_extract(o_orderpriority, '^(\d)-(\w+)', 1)
                        AS INT) AS priority_num,
                   regexp_extract(o_orderpriority, '^(\d)-(\w+)', 2)
                     AS priority_word,
                   CAST(len(regexp_extract_all(o_orderpriority, '[AEIOU]'))
                        AS INT) AS n_vowels
            FROM orders
        """,
    )
)


def q_map_type_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-customer map of order-status -> count built
    with map_from_entries, queried back with element_at / size. The map
    stays internal (output is scalar columns) because map key order is
    engine-dependent and would poison a value hash.
    """
    o = _t(spark, sf_dir, "orders")
    per_status = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mapped = per_status.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "cnt")))
        ).alias("status_map")
    )
    return mapped.select(
        "o_custkey",
        F.size("status_map").alias("n_statuses"),
        F.coalesce(F.element_at("status_map", "F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.element_at("status_map", "O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.element_at("status_map", "P"), F.lit(0)).alias("n_p"),
    )


register(
    QuerySpec(
        name="map_type_ops",
        description="MapType build + lookup: per-customer status->count map "
        "queried to scalars",
        spark=q_map_type_ops,
        oracle="""
            WITH per AS (
                SELECT o_custkey, o_orderstatus, count(*) AS cnt
                FROM orders GROUP BY o_custkey, o_orderstatus
            )
            SELECT o_custkey,
                   CAST(count(*) AS INT) AS n_statuses,
                   CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F'
                                          THEN cnt END), 0) AS BIGINT) AS n_f,
                   CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O'
                                          THEN cnt END), 0) AS BIGINT) AS n_o,
                   CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P'
                                          THEN cnt END), 0) AS BIGINT) AS n_p
            FROM per GROUP BY o_custkey
        """,
    )
)


def q_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of (quantity, extendedprice) per return flag —
    computed from exact integer moment sums (the exactmath discipline
    extended to second moments): five int64 sums, then ONE closed-form
    float expression. Engine-native corr() accumulates doubles in shuffle
    order and cannot hash-match across engines; this can.

    Overflow discipline: y^2 is ~1e14 per row, so its plain int64 sum
    dies around 9e4 rows — the second moment accumulates as a hi/lo PAIR
    of int64 sums (div/mod 2^20), each safe past 1e13 rows, reconstructed
    once in double. Every sum stays exact and order-free; the closed-form
    combination is the only float arithmetic.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")  # integer-valued
    y = scaled_long(F.col("l_extendedprice"), 2)
    y2 = y * y  # ~1e14, safe per-row; unsafe to SUM in int64
    lo_mask = (1 << 20) - 1
    agg = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(F.shiftright(y2, 20)).alias("syy_hi"),
        F.sum(y2.bitwiseAND(F.lit(lo_mask).cast("long"))).alias("syy_lo"),
    )
    # all sums are EXACT int64; the closed-form combination happens in
    # double — identical IEEE ops on identical int64-derived doubles are
    # bit-identical across engines
    n, sx, sy = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    syy = F.col("syy_hi").cast("double") * F.lit(float(1 << 20)) + F.col(
        "syy_lo"
    ).cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return agg.select(
        "returnflag", "n", F.when(den > 0, num / den).alias("corr_qty_price")
    )


register(
    QuerySpec(
        name="exact_correlation",
        description="Pearson corr per return flag via exact integer moment "
        "sums (order-independent, cross-engine bit-exact)",
        spark=q_exact_correlation,
        oracle="""
            WITH r AS (
                SELECT l_returnflag AS returnflag,
                       CAST(l_quantity AS BIGINT) AS x,
                       CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
                FROM lineitem
            ),
            m AS (
                SELECT returnflag,
                       count(*) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum((y * y) // 1048576) AS BIGINT) AS syy_hi,
                       CAST(sum((y * y) % 1048576) AS BIGINT) AS syy_lo
                FROM r GROUP BY returnflag
            ),
            d AS (
                SELECT returnflag, n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(sx AS DOUBLE) AS sxd,
                       CAST(sy AS DOUBLE) AS syd,
                       CAST(sxy AS DOUBLE) AS sxyd,
                       CAST(sxx AS DOUBLE) AS sxxd,
                       CAST(syy_hi AS DOUBLE) * 1048576.0
                         + CAST(syy_lo AS DOUBLE) AS syyd
                FROM m
            )
            SELECT returnflag, n,
                   CASE WHEN sqrt(nd * sxxd - sxd * sxd)
                             * sqrt(nd * syyd - syd * syd) > 0
                        THEN (nd * sxyd - sxd * syd)
                             / (sqrt(nd * sxxd - sxd * sxd)
                                * sqrt(nd * syyd - syd * syd))
                   END AS corr_qty_price
            FROM d
        """,
    )
)


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from a discount band in one year —
    pure scan + conjunctive filter + single-row aggregate. The plan to
    check: every predicate pushed into the parquet scan, no shuffle at
    all before the final single-partition agg of partials.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="forecast_revenue_change",
        description="TPC-H Q6 shape: filter-heavy single-agg revenue delta",
        spark=q_forecast_revenue_change,
        oracle=f"""
            SELECT {exact_sum_sql('l_extendedprice * l_discount', 4)}
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
    )
)


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many
    non-special orders they placed, INCLUDING zero-order customers (the
    left join that makes Q13 interesting), with a HAVING-style filter on
    the outer aggregate.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        ~F.col("o_orderpriority").startswith("5")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))  # count skips nulls
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .filter(F.col("n_customers") >= 2)  # HAVING
    )


register(
    QuerySpec(
        name="order_count_distribution",
        description="TPC-H Q13 shape: customer distribution by order count "
        "incl. zero-order customers, HAVING filter",
        spark=q_order_count_distribution,
        oracle="""
            WITH per_cust AS (
                SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
                FROM customer c
                LEFT JOIN orders o
                  ON c.c_custkey = o.o_custkey
                 AND NOT starts_with(o.o_orderpriority, '5')
                GROUP BY c.c_custkey
            )
            SELECT n_orders, count(*) AS n_customers
            FROM per_cust GROUP BY n_orders
            HAVING count(*) >= 2
        """,
    )
)


def q_promo_revenue_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue from ECONOMY
    parts — conditional aggregate over a fact⋈dim join, finished by ONE
    float division of two exact scaled-int64 sums (the percent itself is
    then bit-identical cross-engine).
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", disc).otherwise(F.lit(0.0))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    agg = joined.agg(
        F.sum(scaled_long(promo, 4)).alias("promo_s"),
        F.sum(scaled_long(disc, 4)).alias("total_s"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.select(
        (
            F.lit(100.0)
            * F.col("promo_s").cast("double")
            / F.col("total_s").cast("double")
        ).alias("promo_revenue_pct"),
        "n_lines",
    )


register(
    QuerySpec(
        name="promo_revenue_percent",
        description="TPC-H Q14 shape: conditional revenue ratio over "
        "lineitem⋈part, exact integer sums, one final division",
        spark=q_promo_revenue_percent,
        oracle="""
            SELECT 100.0
                   * CAST(CAST(sum(CASE WHEN p.p_type = 'ECONOMY'
                               THEN CAST(floor(l.l_extendedprice
                                               * (1 - l.l_discount)
                                               * 10000.0 + 0.5) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(sum(CAST(floor(l.l_extendedprice
                                              * (1 - l.l_discount)
                                              * 10000.0 + 0.5) AS BIGINT))
                          AS BIGINT) AS DOUBLE)
                     AS promo_revenue_pct,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
              AND l.l_shipdate < TIMESTAMP '1996-04-01'
        """,
    )
)


def q_disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of three conjunctive brand/size/quantity
    blocks — the predicate pattern that defeats naive pushdown. Catalyst
    still pushes the common join key and per-block residuals; the query
    proves disjunctive filters compose with a broadcast join correctly.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    block1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 21))
    )
    block2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 30))
    )
    block3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 40))
    )
    return (
        j.filter(block1 | block2 | block3)
        .groupBy("p_brand")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="disjunctive_predicate_revenue",
        description="TPC-H Q19 shape: OR of three conjunctive blocks over "
        "lineitem⋈part, revenue per brand",
        spark=q_disjunctive_predicate_revenue,
        oracle=f"""
            SELECT p.p_brand,
                   {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)}
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1 AND 21)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
                   AND l.l_quantity BETWEEN 10 AND 30)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
                   AND l.l_quantity BETWEEN 20 AND 40)
            GROUP BY p.p_brand
        """,
    )
)


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in one quarter having at least one line
    shipped more than 90 days after the order date, counted per priority
    — correlated EXISTS with a date-arithmetic condition, executed as a
    left-semi join so each order tests at most once.
    """
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate, 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


register(
    QuerySpec(
        name="late_shipment_priority",
        description="TPC-H Q4 shape: per-priority count of orders with a "
        ">90-day-late shipment (correlated EXISTS as semi join)",
        spark=q_late_shipment_priority,
        oracle="""
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              )
            GROUP BY o_orderpriority
        """,
    )
)


def q_revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each supplier nation's share of total revenue —
    an aggregate followed by a whole-frame window sum over the 25-row
    result (the classic percent-of-total, computed where it is cheap: on
    the aggregate, never on the fact table). The share divides two exact
    scaled-int64 sums, so the doubles match the oracle bit-for-bit.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                scaled_long(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                )
            ).alias("rev_s")
        )
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rev.select(
        "n_name",
        (F.col("rev_s").cast("double") / F.lit(1e4)).alias("revenue"),
        (
            F.col("rev_s").cast("double")
            / F.sum("rev_s").over(w).cast("double")
        ).alias("revenue_share"),
    )


register(
    QuerySpec(
        name="revenue_share_by_nation",
        description="ratio-to-report: nation revenue share via whole-frame "
        "window over the 25-row aggregate",
        spark=q_revenue_share_by_nation,
        oracle="""
            WITH rev AS (
                SELECT n.n_name,
                       CAST(sum(CAST(floor(l.l_extendedprice
                                           * (1 - l.l_discount)
                                           * 10000.0 + 0.5) AS BIGINT))
                            AS BIGINT) AS rev_s
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                GROUP BY n.n_name
            )
            SELECT n_name,
                   CAST(rev_s AS DOUBLE) / 10000.0 AS revenue,
                   CAST(rev_s AS DOUBLE)
                   / CAST(CAST(sum(rev_s) OVER () AS BIGINT) AS DOUBLE)
                     AS revenue_share
            FROM rev
        """,
    )
)


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): nulls match
    nulls, unlike plain equality which silently drops null keys. Nulls
    are injected deterministically (regionkey 0 -> null on both sides) so
    the semantic difference is observable: the null bucket joins here and
    would vanish under '='.
    """
    n = _t(spark, sf_dir, "nation").select(
        "n_name", F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk")
    )
    r = _t(spark, sf_dir, "region").select(
        "r_name", F.nullif(F.col("r_regionkey"), F.lit(0)).alias("rk")
    )
    return (
        n.join(r, n.rk.eqNullSafe(r.rk))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


register(
    QuerySpec(
        name="null_safe_join",
        description="null-safe equality join: injected null keys match "
        "across sides (IS NOT DISTINCT FROM)",
        spark=q_null_safe_join,
        oracle="""
            SELECT r.r_name, count(*) AS n_nations
            FROM (SELECT n_name, nullif(n_regionkey, 0) AS rk FROM nation) n
            JOIN (SELECT r_name, nullif(r_regionkey, 0) AS rk FROM region) r
              ON n.rk IS NOT DISTINCT FROM r.rk
            GROUP BY r.r_name
        """,
    )
)


def q_monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: calendar aggregation of order totals,
    then lag/delta/percent-change over the (tiny) monthly series. The
    window runs on ~80 month rows, not facts; the percent divides two
    exact scaled-int64 sums so the doubles hash-match.
    """
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("MONTH", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(scaled_long(F.col("o_totalprice"), 2)).alias("rev_s"))
    w = Window.orderBy("month")
    prev = F.lag("rev_s").over(w)
    return monthly.select(
        "month",
        (F.col("rev_s").cast("double") / F.lit(100.0)).alias("revenue"),
        ((F.col("rev_s") - prev).cast("double") / F.lit(100.0)).alias(
            "mom_delta"
        ),
        F.when(
            prev.isNotNull() & (prev != 0),
            (F.col("rev_s") - prev).cast("double") / prev.cast("double"),
        ).alias("mom_pct"),
    )


register(
    QuerySpec(
        name="monthly_revenue_mom",
        description="month-over-month revenue with lag delta and percent "
        "change over the aggregated monthly series",
        spark=q_monthly_revenue_mom,
        oracle="""
            WITH monthly AS (
                SELECT date_trunc('month', o_orderdate) AS month,
                       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS rev_s
                FROM orders GROUP BY date_trunc('month', o_orderdate)
            )
            SELECT month,
                   CAST(rev_s AS DOUBLE) / 100.0 AS revenue,
                   CAST(rev_s - lag(rev_s) OVER (ORDER BY month) AS DOUBLE)
                     / 100.0 AS mom_delta,
                   CASE WHEN lag(rev_s) OVER (ORDER BY month) IS NOT NULL
                         AND lag(rev_s) OVER (ORDER BY month) <> 0
                        THEN CAST(rev_s - lag(rev_s) OVER (ORDER BY month)
                                  AS DOUBLE)
                             / CAST(lag(rev_s) OVER (ORDER BY month)
                                    AS DOUBLE)
                   END AS mom_pct
            FROM monthly
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated per-key average threshold
# ---------------------------------------------------------------------------


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from unusually small orders of one brand.

    The correlated scalar subquery (``0.2 * avg(l_quantity)`` per part)
    decorrelates into a WINDOW over the brand slice rather than an
    aggregate + join-back: the aggregate form would scan lineitem twice
    (once for thresholds, once for the probe), and at 100 TB the second
    full scan costs far more than shuffling the ~1/25-brand slice once on
    l_partkey. The avg is exact (integer-valued quantities sum exactly in
    double), so the `<` comparison is deterministic across engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    w = Window.partitionBy("l_partkey")
    qty_cut = F.lit(0.2) * F.sum("l_quantity").over(w) / F.count(F.lit(1)).over(w)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .withColumn("qty_cut", qty_cut)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (exact_sum("l_extendedprice", 2) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="small_quantity_revenue",
        description="TPC-H Q17 shape: per-part avg-quantity threshold "
        "(decorrelated scalar subquery), brand-sliced revenue",
        spark=q_small_quantity_revenue,
        oracle=f"""
            WITH brand_lines AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#23'
            ), thresholds AS (
                SELECT l_partkey AS t_partkey,
                       0.2 * sum(l_quantity) / count(*) AS qty_cut
                FROM brand_lines GROUP BY l_partkey
            )
            SELECT {exact_sum_sql('l_extendedprice', 2)} / 7.0 AS avg_yearly,
                   count(*) AS n_lines
            FROM brand_lines JOIN thresholds ON l_partkey = t_partkey
            WHERE l_quantity < qty_cut
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: IN-subquery with HAVING, top-k large orders
# ---------------------------------------------------------------------------


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold.

    The ``IN (... GROUP BY ... HAVING sum > 150)`` subquery is an aggregate
    + semi-join; here the aggregate IS the payload, so it becomes a plain
    join: groupBy lineitem (one shuffle on l_orderkey, map-side combined),
    HAVING-filter, then join orders + broadcast-join customer. Top-k via
    TakeOrderedAndProject — no global sort at any scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


register(
    QuerySpec(
        name="large_orders",
        description="TPC-H Q18 shape: HAVING-filtered agg semi-join, "
        "top-100 by totalprice",
        spark=q_large_orders,
        oracle="""
            SELECT c_name, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice, total_qty
            FROM (
                SELECT l_orderkey, sum(l_quantity) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING sum(l_quantity) > 150
            ) big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: sole-blamed supplier (EXISTS + NOT EXISTS, decorrelated)
# ---------------------------------------------------------------------------


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for late multi-supplier
    orders (ship >90 days after order date).

    The reference Q21 pairs a correlated EXISTS (another supplier on the
    order) with a NOT EXISTS (another LATE supplier). Both decorrelate into
    ONE per-order aggregate: count distinct suppliers, count distinct late
    suppliers, min late supplier — then ``n_supp >= 2 AND n_late_supp = 1``
    replays exactly the exists/not-exists pair without any self-join.
    lineitem⋈orders shuffles on the shared orderkey; supplier is broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.min(F.when(late, F.col("l_suppkey"))).alias("blamed_suppkey"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.join(
            F.broadcast(supp), per_order.blamed_suppkey == supp.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(25)
    )


register(
    QuerySpec(
        name="sole_late_supplier",
        description="TPC-H Q21 shape: EXISTS + NOT EXISTS decorrelated to "
        "one per-order aggregate; sole-late-supplier blame counts",
        spark=q_sole_late_supplier,
        oracle="""
            WITH per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE
                           WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                           THEN l_suppkey END) AS n_late_supp,
                       min(CASE WHEN l_shipdate > o_orderdate
                                     + INTERVAL 90 DAY
                                THEN l_suppkey END) AS blamed_suppkey
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY l_orderkey
            )
            SELECT s_name, count(*) AS numwait
            FROM per_order JOIN supplier ON blamed_suppkey = s_suppkey
            WHERE n_supp >= 2 AND n_late_supp = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 25
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: scalar-subquery threshold + anti-join, per-nation rollup
# ---------------------------------------------------------------------------


def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, rolled up per nation.

    (Adapted: every customer in the testdata has SOME order, so the
    NOT EXISTS is against orders after 2000-07-01 — same anti-join shape,
    non-degenerate result.) The global-average threshold is a 1-row
    aggregate broadcast into the filter; the balance average uses the
    scaled-int64 discipline so the `>` comparison can't flip between
    engines. The anti-join shuffles only custkeys.
    """
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    threshold = cust.filter(F.col("c_acctbal") > 0).agg(
        exact_avg("c_acctbal", 2).alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


register(
    QuerySpec(
        name="dormant_rich_customers",
        description="TPC-H Q22 shape: scalar-subquery balance threshold + "
        "anti-join on recent orders, per-nation rollup",
        spark=q_dormant_rich_customers,
        oracle=f"""
            SELECT n_name AS nation, count(*) AS n_custs,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (
                SELECT {exact_avg_sql('c_acctbal', 2)} FROM customer
                WHERE c_acctbal > 0
            )
            AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-07-01'
            )
            GROUP BY n_name
        """,
    )
)


# ---------------------------------------------------------------------------
# Aggregate extras: median / bool_and / bool_or / count_if
# ---------------------------------------------------------------------------


def q_agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate surface: exact median (integer-valued input, so the
    even-count midpoint is exact in double), boolean any/all, and
    conditional counting — all single-pass hash aggregates.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_deep_discount"),
        F.bool_and(F.col("l_tax") >= 0).alias("all_taxed"),
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
    )


register(
    QuerySpec(
        name="agg_extras",
        description="median / bool_or / bool_and / count_if aggregate "
        "surface per return flag",
        spark=q_agg_extras,
        oracle="""
            SELECT l_returnflag,
                   median(l_quantity) AS median_qty,
                   bool_or(l_discount > 0.05) AS any_deep_discount,
                   bool_and(l_tax >= 0) AS all_taxed,
                   count(*) FILTER (WHERE l_quantity > 25) AS n_bulk
            FROM lineitem GROUP BY l_returnflag
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bidirectional two-nation shipping volume by year
# ---------------------------------------------------------------------------

_Q7_NATIONS = ("NATION_1", "NATION_2")


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flowing between two nations (supplier side
    x customer side, both directions) per ship year.

    Join shape at scale: lineitem⋈orders is the one fact-fact sort-merge
    (shared l_orderkey/o_orderkey key); supplier, customer, and both
    nation legs are broadcast dims. The two-nation disjunction filters
    AFTER the cheap broadcast joins, so the big shuffle carries only
    orderkey-matched rows. Revenue aggregates in scaled int64 (4-decimal
    grid after the discount product), exact under any accumulation order.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    a, b = _Q7_NATIONS
    pair = (
        ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
        | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="nation_volume_shipping",
        description="TPC-H Q7 shape: bidirectional two-nation revenue by "
        "ship year; one fact-fact join, four broadcast dims",
        spark=q_nation_volume_shipping,
        oracle=f"""
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   {exact_sum_sql('l_extendedprice * (1 - l_discount)', 4)}
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = '{_Q7_NATIONS[0]}'
                   AND n2.n_name = '{_Q7_NATIONS[1]}')
               OR (n1.n_name = '{_Q7_NATIONS[1]}'
                   AND n2.n_name = '{_Q7_NATIONS[0]}')
            GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: profit by supplier nation and year
# ---------------------------------------------------------------------------


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table, so supply cost is
    ``0.6 * p_retailprice``): per-line profit = disc_price − cost·qty,
    aggregated by supplier nation and order year.

    Exactness: disc_price lands on the 4-decimal grid, cost·qty on the
    3-decimal grid — both sides scale each term to int64 at ITS OWN grid,
    widen to the common 4-decimal scale in integer arithmetic, and sum
    exactly; one double division at the end. Join shape: fact-fact on
    orderkey + three broadcast dims (part filtered by name pattern first,
    pruning lineitem through the broadcast hash join).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    # 'widget' occurs in the generated part names ('red widget', ...); a
    # '%1%' filter matched nothing and validated an empty result.
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    disc_s = scaled_long(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    cost_s = scaled_long(
        F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"), 3
    )
    profit_s = disc_s - cost_s * F.lit(10)  # widen 3-dec -> 4-dec grid
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(profit_s) / F.lit(10_000.0)).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    QuerySpec(
        name="nation_profit",
        description="TPC-H Q9 shape (retailprice-derived cost): profit by "
        "supplier nation and order year, exact mixed-grid int64 math",
        spark=q_nation_profit,
        oracle="""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(sum(
                       CAST(floor(l_extendedprice * (1 - l_discount)
                                  * 10000.0 + 0.5) AS BIGINT)
                       - CAST(floor(0.6 * p_retailprice * l_quantity
                                    * 1000.0 + 0.5) AS BIGINT) * 10
                   ) AS BIGINT) / 10000.0 AS sum_profit,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY n_name, year(o_orderdate)
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: supplier-nation market share within a region, by year
# ---------------------------------------------------------------------------

# Literals must exist in the testdata or the share ratio is never exercised
# (region names are AFRICA/AMERICA/ASIA/EUROPE/MIDDLE EAST).
_Q8_NATION = "NATION_1"
_Q8_REGION = "ASIA"


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the share of one supplier nation's revenue within
    all revenue sold to customers of one region, per order year.

    The share is a ratio of two conditional sums — the classic place a
    double aggregate diverges between engines. Both the numerator and
    denominator aggregate the 4-decimal-grid revenue in scaled int64
    (conditional term folded into the same hash agg), so the single final
    division is over identical integers: bit-identical share, no rounding.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cn = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == _Q8_REGION)
        .select("c_custkey")
    )
    sn = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        supp.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev_s = scaled_long(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    nation_rev_s = F.when(
        F.col("supp_nation") == _Q8_NATION, rev_s
    ).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cn), orders.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nation_rev_s).cast("double")
                / F.sum(rev_s).cast("double")
            ).alias("mkt_share"),
            (F.sum(rev_s) / F.lit(10_000.0)).alias("total_revenue"),
        )
    )


register(
    QuerySpec(
        name="nation_market_share",
        description="TPC-H Q8 shape: supplier-nation market share per year "
        "as a ratio of scaled-int64 conditional sums (bit-exact)",
        spark=q_nation_market_share,
        oracle=f"""
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(sum(CASE WHEN n2.n_name = '{_Q8_NATION}'
                       THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                       * 10000.0 + 0.5) AS BIGINT)
                       ELSE 0 END) AS DOUBLE)
                   / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                         * 10000.0 + 0.5) AS BIGINT))
                          AS DOUBLE) AS mkt_share,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                       * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
                     / 10000.0 AS total_revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = '{_Q8_REGION}'
            GROUP BY year(o_orderdate)
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier(s) by quarterly revenue (view + scalar max)
# ---------------------------------------------------------------------------

_Q15_START = "1997-01-01"
_Q15_END = "1997-04-01"


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view (per-supplier revenue over one
    quarter), then the supplier(s) achieving the global maximum.

    The scalar max is a 1-row aggregate of the (tiny) revenue view,
    broadcast back for an equality filter — the view is computed once into
    a shuffle whose exchange is reused for both the max and the probe
    (ReusedExchange under AQE), so lineitem is scanned once. Revenue
    compares in scaled int64: the equality with max can't miss by an ulp.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    in_window = F.col("l_shipdate").between(
        F.lit(_Q15_START).cast("timestamp"),
        F.lit(_Q15_END).cast("timestamp"),
    )
    rev = (
        li.filter(in_window)
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                scaled_long(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                )
            ).alias("rev_s")
        )
    )
    max_rev = rev.agg(F.max("rev_s").alias("max_rev_s"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("rev_s") == F.col("max_rev_s"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_s") / F.lit(10_000.0)).alias("total_revenue"),
        )
    )


register(
    QuerySpec(
        name="top_supplier_revenue",
        description="TPC-H Q15 shape: quarterly revenue view + scalar-max "
        "equality (int64 compare, exchange reused)",
        spark=q_top_supplier_revenue,
        oracle=f"""
            WITH rev AS (
                SELECT l_suppkey,
                       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                           * 10000.0 + 0.5) AS BIGINT))
                            AS BIGINT) AS rev_s
                FROM lineitem
                WHERE l_shipdate BETWEEN TIMESTAMP '{_Q15_START}'
                                     AND TIMESTAMP '{_Q15_END}'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, rev_s / 10000.0 AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_s = (SELECT max(rev_s) FROM rev)
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier diversity per part attribute, NOT-IN exclusion
# ---------------------------------------------------------------------------


def q_part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp): how many distinct
    suppliers ship each (brand, size) part class, excluding suppliers with
    negative account balance (Q16's complaint-supplier NOT IN).

    The NOT IN is a broadcast anti-join on the (tiny) excluded-supplier
    set; the diversity count is one distinct-agg shuffled on the composite
    group key. distinct (partkey, suppkey) pairs are pre-deduped BEFORE
    the part join so the expensive distinct runs on the smallest relation.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)  # non-empty in testdata
        .select("s_suppkey")
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        pairs.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
        .limit(50)
    )


register(
    QuerySpec(
        name="part_supplier_diversity",
        description="TPC-H Q16 shape: distinct-supplier count per "
        "brand/size with NOT-IN supplier exclusion (broadcast anti-join)",
        spark=q_part_supplier_diversity,
        oracle="""
            SELECT p_brand, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
            JOIN part ON l_partkey = p_partkey
            WHERE l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
            )
            GROUP BY p_brand, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_size
            LIMIT 50
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: minimum-cost supplier per part within a region
# ---------------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_MAX_SIZE = 10


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp table: the supply relation is the
    distinct (l_partkey, l_suppkey) pairs, and ``s_acctbal`` stands in for
    the per-supplier supply cost): for every small part, the region's
    supplier(s) achieving the MINIMUM cost — the classic correlated-min
    subquery.

    Plan: the correlated subquery is decorrelated into a per-partition
    window-min over ``l_partkey`` followed by an equality filter. A
    groupBy-min + join-back reads the candidate subplan TWICE (verified:
    two full lineitem distinct shuffles in the physical plan, which AQE
    cannot reuse because the two sides project different columns); the
    window form shuffles the candidate pairs ONCE and sorts within each
    part's rows — the dominant cost stays the single pair-distinct. The
    min compare is on untouched parquet doubles (no arithmetic), so Spark
    and DuckDB see bit-identical values.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= _Q2_MAX_SIZE)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rsupp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == _Q2_REGION)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    cand = pairs.join(
        F.broadcast(rsupp), pairs.l_suppkey == rsupp.s_suppkey
    )
    min_bal = F.min("s_acctbal").over(Window.partitionBy("l_partkey"))
    return (
        cand.withColumn("min_bal", min_bal)
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(part), cand.l_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "p_size"
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


register(
    QuerySpec(
        name="min_cost_supplier",
        description="TPC-H Q2 shape: per-part minimum-cost regional "
        "supplier via decorrelated groupBy-min + equality join back",
        spark=q_min_cost_supplier,
        oracle=f"""
            WITH rsupp AS (
                SELECT s_suppkey, s_name, s_acctbal, n_name
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = '{_Q2_REGION}'
            ),
            cand AS (
                SELECT DISTINCT l_partkey, s_suppkey, s_name, s_acctbal,
                       n_name
                FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) p
                JOIN rsupp ON p.l_suppkey = rsupp.s_suppkey
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_size
            FROM cand
            JOIN part ON l_partkey = p_partkey
            WHERE p_size <= {_Q2_MAX_SIZE}
              AND s_acctbal = (
                SELECT min(c2.s_acctbal) FROM cand c2
                WHERE c2.l_partkey = cand.l_partkey
              )
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: important parts by value share (HAVING vs scalar subquery)
# ---------------------------------------------------------------------------

_Q11_NATION = "NATION_3"
#: A part qualifies if its value exceeds MULT x the mean part value. TPC-H's
#: own Q11 scales its fraction by 1/SF for exactly this reason: any FIXED
#: fraction of the total goes vacuously unsatisfiable as the part count
#: grows (caught by the sf0.1 oracle sweep — total/1000 with >1000
#: near-uniform parts selects nothing). Mean-relative thresholds are
#: scale-free.
_Q11_MEAN_MULT = 2


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part revenue from one nation's suppliers,
    keeping parts whose value exceeds twice the MEAN part value — a
    grouped agg filtered against a scalar-subquery threshold that stays
    meaningful at every scale factor (see _Q11_MEAN_MULT).

    Both the per-part values and the grand total aggregate the 4-decimal
    revenue grid in scaled int64; the (total, count) pair is a 1-row
    broadcast and the HAVING compares ``value * n_parts > MULT * total``
    in decimal(38,0) so the threshold is exact at any scale (no double
    rounding at the boundary, no int64 overflow when the product exceeds
    2^63 at ~100 TB volumes). The nation's suppliers broadcast; one
    shuffle on l_partkey.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    nsupp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name") == _Q11_NATION)
        .select("s_suppkey")
    )
    rev_s = scaled_long(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    per_part = (
        li.join(F.broadcast(nsupp), li.l_suppkey == nsupp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(rev_s).alias("val_s"))
    )
    total = per_part.agg(
        F.sum("val_s").alias("total_s"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("val_s").cast("decimal(38,0)")
            * F.col("n_parts").cast("decimal(38,0)")
            > F.lit(_Q11_MEAN_MULT) * F.col("total_s").cast("decimal(38,0)")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("val_s") / F.lit(10_000.0)).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


register(
    QuerySpec(
        name="important_part_value",
        description="TPC-H Q11 shape: parts above 2x the mean part value "
        "(scale-free scalar-subquery HAVING, exact int64 threshold)",
        spark=q_important_part_value,
        oracle=f"""
            WITH per_part AS (
                SELECT l_partkey,
                       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                           * 10000.0 + 0.5) AS BIGINT))
                            AS BIGINT) AS val_s
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
                WHERE n_name = '{_Q11_NATION}'
                GROUP BY l_partkey
            )
            SELECT l_partkey AS p_partkey, val_s / 10000.0 AS part_value
            FROM per_part
            WHERE CAST(val_s AS HUGEINT)
                      * (SELECT count(*) FROM per_part)
                  > {_Q11_MEAN_MULT}
                      * (SELECT CAST(sum(val_s) AS HUGEINT) FROM per_part)
            ORDER BY part_value DESC, p_partkey
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: priority class counts per line status for late lines
# ---------------------------------------------------------------------------

_Q12_LATE_DAYS = 60


def q_linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_linestatus stands in for l_shipmode, ship-lag
    for the commit/receipt comparison — neither column exists in this
    schema): for lines shipped more than 60 days after the order date,
    count urgent/high-priority vs lower-priority orders per line status.

    The conditional counts fold into ONE partial+final hash agg on a
    2-value key (no separate filtered scans); the fact-fact join shuffles
    on orderkey with only the two needed order columns projected.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            > _Q12_LATE_DAYS
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


register(
    QuerySpec(
        name="linestatus_priority_counts",
        description="TPC-H Q12 shape: urgent-vs-low priority line counts "
        "per line status for late shipments (single conditional hash agg)",
        spark=q_linestatus_priority_counts,
        oracle=f"""
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate) > {_Q12_LATE_DAYS}
            GROUP BY l_linestatus
            ORDER BY l_linestatus
        """,
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers with concentrated recent shipments
# ---------------------------------------------------------------------------

_Q20_YEAR = 1997


def q_recent_widget_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp availqty: "excess stock" becomes
    "recent-shipment concentration"): suppliers of widget parts whose
    1997 shipped quantity exceeds 1/6 of their all-time widget quantity
    (above the ~1/7 a uniform 7-year spread predicts) — the correlated
    fraction-of-sum threshold of Q20's subquery.

    Both quantity sums are integer-exact (quantities are whole numbers on
    this data; summed as long). One hash agg per supplier computes both
    sums in a single pass (conditional partial agg), the widget part set
    is broadcast into the lineitem scan, and the name lookup broadcasts
    the supplier dim. The fraction compare is ``6*recent > total`` in
    int64 — no doubles anywhere.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    qty = F.col("l_quantity").cast("long")
    recent = F.when(F.year("l_shipdate") == _Q20_YEAR, qty).otherwise(
        F.lit(0)
    )
    per_supp = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(qty).alias("total_qty"),
            F.sum(recent).alias("recent_qty"),
        )
        .filter(F.col("recent_qty") * 6 > F.col("total_qty"))
    )
    return (
        per_supp.join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation),
                    supp.s_nationkey == nation.n_nationkey,
                ).select("s_suppkey", "s_name", "n_name")
            ),
            per_supp.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_name", "total_qty", "recent_qty")
        .orderBy("s_suppkey")
    )


register(
    QuerySpec(
        name="recent_widget_suppliers",
        description="TPC-H Q20 shape: suppliers with >1/6 of their widget "
        "volume shipped in one year (correlated fraction-sum, one hash agg)",
        spark=q_recent_widget_suppliers,
        oracle=f"""
            SELECT s_suppkey, s_name, n_name,
                   CAST(total_qty AS BIGINT) AS total_qty,
                   CAST(recent_qty AS BIGINT) AS recent_qty
            FROM (
                SELECT l_suppkey,
                       sum(CAST(l_quantity AS BIGINT)) AS total_qty,
                       sum(CASE WHEN year(l_shipdate) = {_Q20_YEAR}
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                         AS recent_qty
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE '%widget%'
                GROUP BY l_suppkey
            )
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE recent_qty * 6 > total_qty
            ORDER BY s_suppkey
        """,
    )
)


# ---------------------------------------------------------------------------
# Benford first-digit census (fraud screening over invoice totals)
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) precomputed ONCE in Python and emitted as the identical
#: double literal into both engines — no runtime log(), which is not
#: correctly-rounded IEEE and differs across libm builds (the same reason
#: value_drift_tv avoids KL and doc_surprisal_bits uses bit-length log2).
_BENFORD_P = [math.log10(1 + 1 / d) for d in range(1, 10)]


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit census of order totals against Benford's
    law — the classic screen for fabricated invoice amounts (fraud sits
    next to this engine's anomaly-detection heart,
    InvoicePipeline.scala:334-339: both flag 'numbers people made up').

    Digit extraction is string-of-int64 (totals are >= 1), never
    float formatting — double-to-string rendering differs between
    engines, bigint-to-string does not. One hash agg over 9 groups with
    map-side combine; expected frequencies are shared build-time
    literals, and the deviation is one fixed-order IEEE subtract.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    # total as an unpartitioned window over the (<= 9-row) aggregate, not
    # a second aggregation of the scan: one pass over orders, zero extra
    # shuffles (the single "partition" is the tiny post-agg result)
    total = F.sum("n_obs").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    p = F.element_at(
        F.array(*[F.lit(x) for x in _BENFORD_P]), F.col("digit")
    )
    frac = F.col("n_obs").cast("double") / total.cast("double")
    return counts.select(
        "digit",
        "n_obs",
        frac.alias("frac_obs"),
        p.alias("benford_p"),
        (frac - p).alias("deviation"),
    )


_BENFORD_LIST_SQL = "[" + ", ".join(repr(x) for x in _BENFORD_P) + "]"

register(
    QuerySpec(
        name="benford_first_digit",
        description="first-digit distribution of order totals vs Benford's "
        "law (fraud screen; shared build-time log literals)",
        spark=q_benford_first_digit,
        oracle=f"""
            WITH counts AS (
                SELECT CAST(substring(CAST(CAST(floor(o_totalprice)
                                AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                         AS digit,
                       count(*) AS n_obs
                FROM orders
                WHERE o_totalprice >= 1
                GROUP BY 1
            ),
            total AS (
                SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM counts
            )
            SELECT digit,
                   n_obs,
                   CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)
                     AS frac_obs,
                   -- CAST: DuckDB types the float literal list as
                   -- DECIMAL(18,17); pandas would render object/decimal
                   -- and the driver's value hash diverges from float64
                   CAST(({_BENFORD_LIST_SQL})[digit] AS DOUBLE)
                     AS benford_p,
                   CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)
                   - CAST(({_BENFORD_LIST_SQL})[digit] AS DOUBLE)
                     AS deviation
            FROM counts, total
        """,
    )
)


# ---------------------------------------------------------------------------
# RFM customer segmentation: recency/frequency/monetary quartile grid
# ---------------------------------------------------------------------------


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation census: score every customer 1-4 on
    Recency (days since last order, 4 = most recent), Frequency (order
    count), and Monetary (exact lifetime spend in cents), then census the
    4x4x4 segment grid — the marketing-analytics workhorse the TPC-H
    family lacks.

    Quartile cuts come from the mergeable GK sketch over the PER-CUSTOMER
    relation (exact regime licensed by approx_quantiles_by_type while
    customers <= accuracy; cuts on the exact integer cents, never float
    money), fused with the reference-date max into ONE 1-row broadcast
    so the per-customer subtree executes twice, not four times. The
    segment census is a tiny hash agg.
    """
    orders = _t(spark, sf_dir, "orders")
    # checkpoint: three consumers (global cuts, scoring join, recency
    # cuts) would otherwise re-run the orders aggregation each — the
    # rollup-plus-checkpoint remedy; at cluster scale persist() the
    # customer relation instead if it outgrows local storage
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(scaled_long("o_totalprice", 2)).alias("cents"),
        )
        .localCheckpoint()
    )
    fq = F.percentile_approx("freq", [0.25, 0.5, 0.75], _GK_ACCURACY)
    mq = F.percentile_approx("cents", [0.25, 0.5, 0.75], _GK_ACCURACY)
    cuts = cust.agg(
        F.max("last_order").alias("ref_date"),
        *[F.element_at(fq, i).alias(f"f{i}") for i in (1, 2, 3)],
        *[F.element_at(mq, i).alias(f"m{i}") for i in (1, 2, 3)],
    )
    # recency needs the global ref date BEFORE its own quartiles, so its
    # cuts come from a second pass over the joined relation
    scored0 = cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "freq",
        "cents",
        F.datediff(F.col("ref_date"), F.col("last_order"))
        .cast("long")
        .alias("rec_days"),
        "f1",
        "f2",
        "f3",
        "m1",
        "m2",
        "m3",
    )
    rcq = F.percentile_approx("rec_days", [0.25, 0.5, 0.75], _GK_ACCURACY)
    rcuts = scored0.agg(
        *[F.element_at(rcq, i).alias(f"r{i}") for i in (1, 2, 3)]
    )
    scored = scored0.crossJoin(F.broadcast(rcuts))
    r_q = (
        F.when(F.col("rec_days") <= F.col("r1"), F.lit(4))
        .when(F.col("rec_days") <= F.col("r2"), F.lit(3))
        .when(F.col("rec_days") <= F.col("r3"), F.lit(2))
        .otherwise(F.lit(1))
    )
    f_q = (
        F.when(F.col("freq") <= F.col("f1"), F.lit(1))
        .when(F.col("freq") <= F.col("f2"), F.lit(2))
        .when(F.col("freq") <= F.col("f3"), F.lit(3))
        .otherwise(F.lit(4))
    )
    m_q = (
        F.when(F.col("cents") <= F.col("m1"), F.lit(1))
        .when(F.col("cents") <= F.col("m2"), F.lit(2))
        .when(F.col("cents") <= F.col("m3"), F.lit(3))
        .otherwise(F.lit(4))
    )
    return (
        scored.select(
            r_q.alias("r_q"), f_q.alias("f_q"), m_q.alias("m_q"), "cents",
            "rec_days",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias(
                "total_monetary"
            ),
            (
                F.sum("rec_days").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_recency_days"),
        )
    )


register(
    QuerySpec(
        name="rfm_segments",
        description="RFM customer segmentation: 4x4x4 quartile grid census "
        "(GK cuts on exact integer cents, deterministic tiles)",
        spark=q_rfm_segments,
        oracle=f"""
            WITH cust AS (
                SELECT o_custkey, max(o_orderdate) AS last_order,
                       count(*) AS freq,
                       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey
            ),
            cuts AS (
                SELECT max(last_order) AS ref_date,
                       quantile_disc(freq, 0.25) AS f1,
                       quantile_disc(freq, 0.5)  AS f2,
                       quantile_disc(freq, 0.75) AS f3,
                       quantile_disc(cents, 0.25) AS m1,
                       quantile_disc(cents, 0.5)  AS m2,
                       quantile_disc(cents, 0.75) AS m3
                FROM cust
            ),
            scored0 AS (
                SELECT c.o_custkey, c.freq, c.cents,
                       CAST(date_diff('day', CAST(c.last_order AS DATE),
                                      CAST(k.ref_date AS DATE)) AS BIGINT)
                         AS rec_days,
                       k.f1, k.f2, k.f3, k.m1, k.m2, k.m3
                FROM cust c, cuts k
            ),
            rcuts AS (
                SELECT quantile_disc(rec_days, 0.25) AS r1,
                       quantile_disc(rec_days, 0.5)  AS r2,
                       quantile_disc(rec_days, 0.75) AS r3
                FROM scored0
            ),
            scored AS (
                SELECT s.*,
                       CASE WHEN rec_days <= r1 THEN 4
                            WHEN rec_days <= r2 THEN 3
                            WHEN rec_days <= r3 THEN 2 ELSE 1 END AS r_q,
                       CASE WHEN freq <= f1 THEN 1
                            WHEN freq <= f2 THEN 2
                            WHEN freq <= f3 THEN 3 ELSE 4 END AS f_q,
                       CASE WHEN cents <= m1 THEN 1
                            WHEN cents <= m2 THEN 2
                            WHEN cents <= m3 THEN 3 ELSE 4 END AS m_q
                FROM scored0 s, rcuts
            )
            SELECT r_q, f_q, m_q, count(*) AS n_customers,
                   CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0
                     AS total_monetary,
                   CAST(CAST(sum(rec_days) AS BIGINT) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS avg_recency_days
            FROM scored GROUP BY r_q, f_q, m_q
        """,
    )
)


# ---------------------------------------------------------------------------
# Data-quality expectation report: the Deequ-style contract census
# ---------------------------------------------------------------------------


def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-check data-quality report across the catalog —
    uniqueness, referential integrity, nullity, and range contracts, the
    expectation suite a pipeline gates its publishes on (the Deequ/
    expectations pattern expressed as plain aggregations):

    - primary keys present AND unique (orders, customer, part):
      violations = rows - distinct non-null keys, so NULL keys count
      against the contract, not silently for it
    - no orphan foreign keys (orders->customer, lineitem->orders)
    - value ranges (lineitem quantity positive, discount in [0,1])
    - required fields present (events.value, documents.text non-empty)

    Output: table_name, check_name, n_rows, n_violations, pass.

    Scale: ONE aggregation per table computes every predicate metric for
    it (count_if columns), checkpointed as a 1-row frame and unpivoted
    into check rows — the fact tables are scanned once for their
    predicate suite plus once as the anti-join probe side, never once
    per check.
    """

    def check(table: str, name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(table).alias("table_name"),
            F.lit(name).alias("check_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_violations").cast("long").alias("n_violations"),
            (F.col("n_violations") == 0).alias("pass"),
        )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")
    docs = load_table(spark, "documents", sf_dir)

    def pk_violations(key: str):
        # count(*) - countDistinct: NULL keys are excluded from the
        # distinct but included in the row count, so they register as
        # violations — presence is part of the PK contract
        return (F.count(F.lit(1)) - F.countDistinct(key)).alias("pk_viol")

    def viol(cond, name: str):
        return F.count_if(~cond | cond.isNull()).alias(name)

    # one metric aggregation per table, checkpointed (1 row) so every
    # check row derived from it reads the materialized result
    li_stats = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(F.col("l_quantity") > 0, "qty_viol"),
        viol(
            (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
            "disc_viol",
        ),
    ).localCheckpoint()
    orders_stats = orders.agg(
        F.count(F.lit(1)).alias("n_rows"), pk_violations("o_orderkey")
    ).localCheckpoint()

    def from_stats(stats: DataFrame, table: str, name: str, col: str):
        return check(
            table,
            name,
            stats.select("n_rows", F.col(col).alias("n_violations")),
        )

    def pk_unique(df: DataFrame, table: str, key: str) -> DataFrame:
        return check(
            table,
            "pk_unique",
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.countDistinct(key)).alias(
                    "n_violations"
                ),
            ),
        )

    def orphans(
        fact: DataFrame,
        fact_stats: DataFrame,
        dim: DataFrame,
        fk: str,
        pk: str,
        table: str,
        name: str,
    ) -> DataFrame:
        # broadcast anti-join: the dim key set is the small side at every
        # scale ratio the schema implies; one pass over the fact. No
        # .distinct() on the build side — left_anti semantics are
        # identical either way and the distinct would cost a shuffle
        n_orphans = (
            fact.filter(F.col(fk).isNotNull())
            .join(
                F.broadcast(dim.select(F.col(pk).alias(fk))),
                fk,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
        return check(
            table,
            name,
            fact_stats.select("n_rows").crossJoin(n_orphans),
        )

    def predicate(
        df: DataFrame, cond, table: str, name: str
    ) -> DataFrame:
        return check(
            table,
            name,
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(~cond | cond.isNull()).alias("n_violations"),
            ),
        )

    reports = [
        from_stats(orders_stats, "orders", "pk_unique", "pk_viol"),
        pk_unique(customer, "customer", "c_custkey"),
        pk_unique(part, "part", "p_partkey"),
        orphans(orders, orders_stats, customer, "o_custkey", "c_custkey",
                "orders", "fk_customer_orphans"),
        orphans(li, li_stats, orders, "l_orderkey", "o_orderkey",
                "lineitem", "fk_orders_orphans"),
        from_stats(li_stats, "lineitem", "qty_positive", "qty_viol"),
        from_stats(li_stats, "lineitem", "discount_in_unit_range",
                   "disc_viol"),
        predicate(events, F.col("value").isNotNull(), "events",
                  "value_present"),
        predicate(
            docs,
            F.col("text").isNotNull() & (F.length("text") > 0),
            "documents",
            "text_nonempty",
        ),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


register(
    QuerySpec(
        name="data_quality_report",
        description="Deequ-style expectation census: pk uniqueness, fk "
        "orphans, ranges, required fields — one row per check",
        spark=q_data_quality,
        oracle="""
            SELECT 'orders' AS table_name, 'pk_unique' AS check_name,
                   count(*) AS n_rows,
                   count(*) - count(DISTINCT o_orderkey)
                     AS n_violations,
                   count(*) - count(DISTINCT o_orderkey) = 0
                     AS pass
            FROM orders
            UNION ALL
            SELECT 'customer', 'pk_unique', count(*),
                   count(*) - count(DISTINCT c_custkey),
                   count(*) - count(DISTINCT c_custkey) = 0
            FROM customer
            UNION ALL
            SELECT 'part', 'pk_unique', count(*),
                   count(*) - count(DISTINCT p_partkey),
                   count(*) - count(DISTINCT p_partkey) = 0
            FROM part
            UNION ALL
            SELECT 'orders', 'fk_customer_orphans',
                   (SELECT count(*) FROM orders),
                   count(*), count(*) = 0
            FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'lineitem', 'fk_orders_orphans',
                   (SELECT count(*) FROM lineitem),
                   count(*), count(*) = 0
            FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)
            UNION ALL
            SELECT 'lineitem', 'qty_positive', count(*),
                   count(*) FILTER (WHERE l_quantity IS NULL
                                       OR NOT (l_quantity > 0)),
                   count(*) FILTER (WHERE l_quantity IS NULL
                                       OR NOT (l_quantity > 0)) = 0
            FROM lineitem
            UNION ALL
            SELECT 'lineitem', 'discount_in_unit_range', count(*),
                   count(*) FILTER (WHERE l_discount IS NULL
                                       OR NOT (l_discount >= 0
                                               AND l_discount <= 1)),
                   count(*) FILTER (WHERE l_discount IS NULL
                                       OR NOT (l_discount >= 0
                                               AND l_discount <= 1)) = 0
            FROM lineitem
            UNION ALL
            SELECT 'events', 'value_present', count(*),
                   count(*) FILTER (WHERE value IS NULL),
                   count(*) FILTER (WHERE value IS NULL) = 0
            FROM events
            UNION ALL
            SELECT 'documents', 'text_nonempty', count(*),
                   count(*) FILTER (WHERE text IS NULL
                                       OR length(text) = 0),
                   count(*) FILTER (WHERE text IS NULL
                                       OR length(text) = 0) = 0
            FROM documents
        """,
    )
)
