"""Reference-inventory queries (SURVEY.md §2) over the driver test tables.

The reference's domain is retail purchase lines; the driver materializes
TPC-H-ish tables instead (FIXTURES.md §B maps them: ``lineitem`` grouped by
``l_orderkey`` plays ``purchase_lines`` grouped by ``InvoiceNo``; ``events``
is the streaming analogue). Each query here is the reference operator
re-expressed over those tables so DuckDB can oracle-check it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exactmath import exact_avg, exact_avg_sql
from ..sources.catalog import load_table
from .registry import QuerySpec, register

# ---------------------------------------------------------------------------
# A1 + F2: invoice featurization (flagship; reference Clustering.scala:45-58)
# ---------------------------------------------------------------------------


def q_invoice_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-invoice feature aggregation — the engine's flagship query.

    One hash aggregation; Catalyst plans partial (map-side) agg before the
    shuffle, so the shuffle carries one row per (mapper, invoice), which is
    what keeps this viable at 100 TB. The average uses exact scaled-int64
    arithmetic (see functions.exactmath) so it's oracle-hashable;
    min/max/count/sum-of-integer-valued-doubles are exact as-is.

    The scan is keyed-spread when narrow (cluster_if_narrow) so the
    aggregation runs cluster-wide behind ONE exchange instead of
    single-threaded in front of it; no-op on a real multi-split scan,
    where the map-side-combine shape above is unchanged. Values are
    order-independent (int64 sums, min/max, integer-valued double sums).
    """
    from ..operators.layout import cluster_if_narrow

    li = cluster_if_narrow(
        load_table(spark, "lineitem", sf_dir), "l_orderkey"
    )
    return li.groupBy(F.col("l_orderkey").alias("invoice_no")).agg(
        exact_avg("l_extendedprice", 2).alias("avg_unit_price"),
        F.min("l_extendedprice").alias("min_unit_price"),
        F.max("l_extendedprice").alias("max_unit_price"),
        F.max(F.hour("l_shipdate")).cast("double").alias("time"),
        F.sum("l_quantity").alias("number_items"),
        F.max("l_shipdate").alias("last_updated"),
        F.count(F.lit(1)).alias("lines"),
    )


register(
    QuerySpec(
        name="invoice_featurize",
        description="A1/F2: groupBy invoice, avg/min/max price, hour, sum qty, count "
        "(Clustering.scala:45-58 re-expressed over lineitem)",
        spark=q_invoice_featurize,
        oracle=f"""
            SELECT l_orderkey AS invoice_no,
                   {exact_avg_sql('l_extendedprice', 2)} AS avg_unit_price,
                   min(l_extendedprice) AS min_unit_price,
                   max(l_extendedprice) AS max_unit_price,
                   CAST(max(hour(l_shipdate)) AS DOUBLE) AS time,
                   sum(l_quantity) AS number_items,
                   max(l_shipdate) AS last_updated,
                   count(*) AS lines
            FROM lineitem
            GROUP BY l_orderkey
        """,
    )
)

# ---------------------------------------------------------------------------
# P8: training validity filter on top of featurization (Clustering.scala:60-67)
# ---------------------------------------------------------------------------


def q_invoice_featurize_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurize then keep only 'valid' invoices (P8 predicate analogue).

    The reference filter is CustomerID present AND LastDate present AND not
    a cancellation; here: the order has a customer, a date, and is not in
    cancelled-analogue status 'F'. The customer comes from a join to
    ``orders`` — broadcast-hinted because orders is ~1/4 the size of
    lineitem and the join key is its primary key (at 100 TB this would be a
    shuffle-hash/sort-merge on o_orderkey; broadcast is right for dim-sized
    sides, AQE picks for us when sizes allow).
    """
    from ..operators.layout import cluster_if_narrow

    li = cluster_if_narrow(
        load_table(spark, "lineitem", sf_dir), "l_orderkey"
    )
    orders = load_table(spark, "orders", sf_dir)
    feats = li.groupBy(F.col("l_orderkey").alias("invoice_no")).agg(
        exact_avg("l_extendedprice", 2).alias("avg_unit_price"),
        F.max(F.hour("l_shipdate")).cast("double").alias("time"),
        F.sum("l_quantity").alias("number_items"),
        F.max("l_shipdate").alias("last_updated"),
        F.count(F.lit(1)).alias("lines"),
    )
    return (
        feats.join(
            orders.select("o_orderkey", "o_custkey", "o_orderstatus"),
            feats.invoice_no == orders.o_orderkey,
            "inner",
        )
        .filter(
            F.col("o_custkey").isNotNull()
            & F.col("last_updated").isNotNull()
            & (F.col("o_orderstatus") != "F")
        )
        .select(
            "invoice_no",
            "avg_unit_price",
            "time",
            "number_items",
            "last_updated",
            "lines",
            F.col("o_custkey").alias("customer_id"),
        )
    )


register(
    QuerySpec(
        name="invoice_featurize_valid",
        description="P8: validity filter over featurized invoices "
        "(Clustering.scala:60-67), customer via orders join",
        spark=q_invoice_featurize_valid,
        oracle=f"""
            WITH feats AS (
                SELECT l_orderkey AS invoice_no,
                       {exact_avg_sql('l_extendedprice', 2)} AS avg_unit_price,
                       CAST(max(hour(l_shipdate)) AS DOUBLE) AS time,
                       sum(l_quantity) AS number_items,
                       max(l_shipdate) AS last_updated,
                       count(*) AS lines
                FROM lineitem
                GROUP BY l_orderkey
            )
            SELECT f.invoice_no, f.avg_unit_price, f.time, f.number_items,
                   f.last_updated, f.lines, o.o_custkey AS customer_id
            FROM feats f
            JOIN orders o ON f.invoice_no = o.o_orderkey
            WHERE o.o_custkey IS NOT NULL
              AND f.last_updated IS NOT NULL
              AND o.o_orderstatus <> 'F'
        """,
    )
)

# ---------------------------------------------------------------------------
# Composite flagship: A1 featurization ⋈ customer dim + ranking window
# (entry() exercises >=3 operator classes)
# ---------------------------------------------------------------------------


def q_invoice_featurize_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 invoices per customer by average unit price: the A1 hash
    aggregation (Clustering.scala:45-58), a key join to ``orders`` for the
    customer, a broadcast join to the ``customer`` dim, and a per-customer
    ranking window — agg + join + broadcast + window in one plan, which is
    what ``entry()`` smoke-checks.

    Scale shape: the agg shuffle carries one row per (mapper, invoice)
    (map-side combine); the orders join is key-to-primary-key (AQE picks
    broadcast at small SF, sort-merge at 100 TB); customer is dim-sized ->
    explicit broadcast; the window partitions by customer, so its sort is
    per-customer-group, never a global range exchange.
    """
    feats = q_invoice_featurize(spark, sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("c_custkey").orderBy(
        F.col("avg_unit_price").desc(), F.col("invoice_no")
    )
    return (
        feats.join(o, feats["invoice_no"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("price_rank", F.row_number().over(w))
        .filter(F.col("price_rank") <= 3)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "invoice_no",
            "avg_unit_price",
            "number_items",
            "lines",
            "price_rank",
        )
    )


register(
    QuerySpec(
        name="invoice_featurize_ranked",
        description="composite flagship: A1 featurization + orders/customer "
        "joins + per-customer top-3 ranking window",
        spark=q_invoice_featurize_ranked,
        oracle=f"""
            WITH feats AS (
                SELECT l_orderkey AS invoice_no,
                       {exact_avg_sql('l_extendedprice', 2)} AS avg_unit_price,
                       sum(l_quantity) AS number_items,
                       count(*) AS lines
                FROM lineitem
                GROUP BY l_orderkey
            ), joined AS (
                SELECT c.c_custkey, c.c_name, c.c_mktsegment,
                       f.invoice_no, f.avg_unit_price, f.number_items,
                       f.lines,
                       row_number() OVER (
                           PARTITION BY c.c_custkey
                           ORDER BY f.avg_unit_price DESC, f.invoice_no
                       ) AS price_rank
                FROM feats f
                JOIN orders o ON f.invoice_no = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
            )
            SELECT * FROM joined WHERE price_rank <= 3
        """,
    )
)

# ---------------------------------------------------------------------------
# P10: streaming row-validation cascade (InvoicePipeline.scala:260-289)
# ---------------------------------------------------------------------------


def q_validation_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precedence-ordered reject-reason cascade (P10) over ``events``.

    The reference checks, in order: stored parse error > no purchase lines >
    missing customer ID > invalid invoice date > missing country. The
    analogue keeps the *shape* (a when/otherwise chain compiling to one
    CASE WHEN — single pass, codegen'd, no shuffle): null/neg value is the
    'parse error', error-type events are stored errors, missing user is the
    missing-customer, pre-6am the invalid-date stand-in.
    """
    ev = load_table(spark, "events", sf_dir)
    reject = (
        F.when(F.col("value").isNull() | (F.col("value") < 0), "parse error: bad value")
        .when(F.col("event_type") == "error", "stored error")
        .when(F.col("user_id").isNull(), "missing customer ID")
        .when(F.hour("ts") < 6, "invalid invoice date")
        .otherwise(F.lit(None).cast("string"))
    )
    return ev.select("event_id", reject.alias("reject_reason"))


register(
    QuerySpec(
        name="validation_cascade",
        description="P10: precedence-ordered when/otherwise reject-reason cascade "
        "(InvoicePipeline.scala:260-289) over events",
        spark=q_validation_cascade,
        oracle="""
            SELECT event_id,
                   CASE
                     WHEN value IS NULL OR value < 0 THEN 'parse error: bad value'
                     WHEN event_type = 'error' THEN 'stored error'
                     WHEN user_id IS NULL THEN 'missing customer ID'
                     WHEN hour(ts) < 6 THEN 'invalid invoice date'
                     ELSE NULL
                   END AS reject_reason
            FROM events
        """,
    )
)

# ---------------------------------------------------------------------------
# P6/P7: cancellation split (InvoicePipeline.scala:319-335)
# ---------------------------------------------------------------------------


def q_cancellation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-and-count split: cancellations vs candidates per day (P6/P7).

    Reference splits on InvoiceNo.startsWith('C'); analogue splits orders on
    status 'F'. Expressed as one aggregation with a conditional count —
    cheaper than two filtered passes (one scan, one shuffle).
    """
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("cancellations"),
            F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias("candidates"),
        )
    )


register(
    QuerySpec(
        name="cancellation_split",
        description="P6/P7: cancellation vs candidate split as conditional counts "
        "per day (InvoicePipeline.scala:319-335)",
        spark=q_cancellation_split,
        oracle="""
            SELECT CAST(o_orderdate AS DATE) AS order_date,
                   count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS cancellations,
                   count(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS candidates
            FROM orders
            GROUP BY CAST(o_orderdate AS DATE)
        """,
    )
)

# ---------------------------------------------------------------------------
# T4 (batch form): sliding-window count (InvoicePipeline.scala:322-331)
# ---------------------------------------------------------------------------


def q_sliding_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-minute window sliding by 1 minute, count of 'error' events (T4).

    ``F.window`` assigns each row to length/slide = 8 windows; this is the
    batch shape of the streaming cancellation counter. The oracle reproduces
    window assignment with a range-join on 8 per-minute offsets.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "8 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


register(
    QuerySpec(
        name="sliding_window_count",
        description="T4: 8min/1min sliding-window count of error events "
        "(InvoicePipeline.scala:322-331, batch form)",
        spark=q_sliding_window_count,
        oracle="""
            SELECT date_trunc('minute', ts) - (k.range * INTERVAL 1 MINUTE)
                     AS window_start,
                   count(*) AS n
            FROM events CROSS JOIN range(8) k
            WHERE event_type = 'error'
            GROUP BY 1
        """,
    )
)

# ---------------------------------------------------------------------------
# A4: exact top-k order-statistic threshold (KMeansClusterInvoices.scala:44-50)
# ---------------------------------------------------------------------------

TOPK_K = 2000


def q_threshold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """threshold = K-th largest value — exact order statistic, not a
    quantile approximation (SURVEY.md §7 hard-point 4).

    orderBy(desc).limit(K) is a distributed TakeOrdered: each partition
    keeps its top K, the driver merges — no full sort, no full shuffle, and
    it scales as O(partitions * K). min() of that set is the K-th largest.
    """
    orders = load_table(spark, "orders", sf_dir)
    topk = orders.select("o_totalprice").orderBy(F.desc("o_totalprice")).limit(TOPK_K)
    return topk.agg(F.min("o_totalprice").alias("threshold"))


register(
    QuerySpec(
        name="threshold_topk",
        description="A4: exact 2000th-largest order statistic via "
        "TakeOrdered (KMeansClusterInvoices.scala:44-50)",
        spark=q_threshold_topk,
        oracle=f"""
            SELECT min(o_totalprice) AS threshold
            FROM (
                SELECT o_totalprice FROM orders
                ORDER BY o_totalprice DESC
                LIMIT {TOPK_K}
            )
        """,
    )
)

# ---------------------------------------------------------------------------
# F1/F2: hour extraction with -1.0 sentinel (InvoicePipeline.scala:495-498)
# ---------------------------------------------------------------------------


def q_hour_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day histogram with the reference's -1.0 failure sentinel.

    Exercises the engine's extract_hour on a string-formatted date column:
    events.ts formatted to the reference 'M/d/yyyy H:mm' format, then parsed
    back (round-trip proves the parser), nulls -> -1.0.
    """
    from ..functions.scalars import INVOICE_DATE_FMT, extract_hour

    ev = load_table(spark, "events", sf_dir)
    as_string = ev.select(
        F.date_format("ts", INVOICE_DATE_FMT).alias("invoice_date")
    )
    return (
        as_string.select(extract_hour("invoice_date").alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )


register(
    QuerySpec(
        name="hour_extraction",
        description="F1/F2: hour-of-day from 'M/d/yyyy H:mm' strings with -1.0 "
        "sentinel (InvoicePipeline.scala:495-498), histogram",
        spark=q_hour_extraction,
        oracle="""
            SELECT CAST(coalesce(hour(strptime(strftime(ts, '%-m/%-d/%Y %-H:%M'),
                                               '%m/%d/%Y %H:%M')), -1.0) AS DOUBLE)
                     AS hour,
                   count(*) AS n
            FROM events
            GROUP BY 1
        """,
    )
)
