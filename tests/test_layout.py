"""Layout helpers (operators/layout.py): salted skew joins, the runtime
Bloom-filter join shape, and the keyed narrow-scan spread — correctness
AND the plan shapes that make them worth having."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators import layout
from spark_streaming_invoice_anomaly_detection_spark.operators.layout import cluster_if_narrow
from spark_streaming_invoice_anomaly_detection_spark.sources import catalog
from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import load_table


class TestSaltedJoin:
    def test_result_identical_to_plain_join(self, spark, sf_dir):
        li = load_table(spark, "lineitem", sf_dir).select(
            F.col("l_suppkey").alias("suppkey"), "l_quantity"
        )
        s = load_table(spark, "supplier", sf_dir).select(
            F.col("s_suppkey").alias("suppkey"), "s_nationkey"
        )
        got = (
            layout.salted_join(li, s, "suppkey", num_salts=4)
            .groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        )
        want = (
            li.join(s, "suppkey")
            .groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_salt_spreads_hot_key(self, spark):
        # one pathological key holding 90% of rows
        hot = spark.range(9000).select(
            F.lit(1).alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(1000).select(
            (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("v")
        )
        large = hot.unionByName(cold)
        small = spark.range(60).select(
            (F.col("id") + 1).alias("k"), F.lit("x").alias("tag")
        )
        out = layout.salted_join(large, small, "k", num_salts=8)
        assert out.count() == 10000  # every row matched exactly once
        # the hot key genuinely fans out over multiple (key, salt) groups
        salted = large.withColumn(
            "__salt", F.floor(F.rand(42) * 8).cast("int")
        )
        n_groups = (
            salted.filter(F.col("k") == 1)
            .select("__salt")
            .distinct()
            .count()
        )
        assert n_groups == 8


class TestRuntimeBloomFilter:
    def test_injected_filter_shape_and_identity(self, spark, sf_dir):
        """With the at-scale size gates lowered, Catalyst injects a
        `might_contain(bloom_filter_agg(build key))` predicate into the
        fact side of the registered bloom_pruned_revenue query — the
        semi-join reduction that drops non-joining fact rows before the
        shuffle at 100 TB — and the result stays row-identical to the
        plain broadcast-join plan."""
        from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
            REGISTRY,
            queries,
        )

        queries()
        builder = REGISTRY["bloom_pruned_revenue"].spark
        baseline = sorted(map(tuple, builder(spark, sf_dir).collect()))

        saved = {
            k: spark.conf.get(k, None)
            for k in layout.RUNTIME_BLOOM_TEST_CONFS
        }
        try:
            for k, v in layout.RUNTIME_BLOOM_TEST_CONFS.items():
                spark.conf.set(k, v)
            df = builder(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" in plan
            assert "bloom_filter_agg" in plan
            got = sorted(map(tuple, df.collect()))
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert got == baseline


class TestClusterIfNarrow:
    def test_narrow_scan_gets_keyed_repartition(self, spark, sf_dir):
        li = catalog.load_table(spark, "lineitem", sf_dir)
        out = cluster_if_narrow(li, "l_orderkey")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" in plan.replace(
            "repartitionbyexpression", "RepartitionByExpression"
        ) or "l_orderkey" in plan

    def test_agg_behind_single_exchange(self, spark, sf_dir):
        """The keyed spread must satisfy the groupBy's distribution: one
        hash exchange total, not two."""
        li = catalog.load_table(spark, "lineitem", sf_dir)
        df = cluster_if_narrow(li, "l_orderkey").groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("c")
        )
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert phys.count("Exchange hashpartitioning") == 1

    def test_values_identical_to_plain_agg(self, spark, sf_dir):
        li = catalog.load_table(spark, "lineitem", sf_dir)
        plain = (
            li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
            .orderBy("l_orderkey")
            .collect()
        )
        spread = (
            cluster_if_narrow(li, "l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
            .orderBy("l_orderkey")
            .collect()
        )
        assert plain == spread
