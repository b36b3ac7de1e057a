"""Physical-plan shape assertions: the scale properties the engine claims
(pushdown, pruning, broadcast, no nested-loop joins, partial aggregation,
top-k without a global sort) pinned as tests so a regression that keeps
results correct but wrecks the 100 TB plan still fails CI."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.plans.registry import queries
from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import load_table


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def q():
    return queries()


class TestScanPushdown:
    def test_filter_and_projection_reach_parquet_scan(self, spark, sf_dir):
        df = (
            load_table(spark, "lineitem", sf_dir)
            .filter(F.col("l_quantity") > 40)
            .select("l_orderkey", "l_quantity")
        )
        plan = plan_of(df)
        assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1].split("\n")[0]
        # ReadSchema prunes to the two projected columns (+ filter col)
        read_schema = plan.split("ReadSchema")[1].split("\n")[0]
        assert "l_orderkey" in read_schema
        assert "l_comment" not in read_schema

    def test_metadata_prune_skips_payload(self, spark, sf_dir):
        """Multimodal metadata query must not read the payload column."""
        from spark_streaming_invoice_anomaly_detection_spark.operators.multimodal import (
            synthesize_assets,
        )

        docs = load_table(spark, "documents", sf_dir)
        assets = synthesize_assets(docs)
        df = assets.groupBy("modality").count()
        read_schema = plan_of(df).split("ReadSchema")[1].split("\n")[0]
        assert "text" not in read_schema  # payload source column pruned


class TestJoinStrategies:
    def test_dim_join_broadcasts(self, spark, sf_dir, q):
        plan = plan_of(q["join_broadcast_dims"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan

    def test_fact_fact_join_shuffles_not_broadcast_nested(self, spark, sf_dir, q):
        plan = plan_of(q["join_fact_fact_revenue"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_range_join_is_equi_join(self, spark, sf_dir, q):
        """The bucketed range join must plan as an equi-join, never the
        O(n^2) nested-loop a raw |Δts|<=gap predicate would produce."""
        plan = plan_of(q["range_join_cooccurrence"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            "BroadcastHashJoin" in plan
        )


class TestAggregation:
    def test_featurize_has_partial_agg(self, spark, sf_dir, q):
        """Map-side combine: two HashAggregate phases around the exchange."""
        plan = plan_of(q["invoice_featurize"](spark, sf_dir))
        assert plan.count("HashAggregate") >= 2

    def test_featurize_codegen(self, spark, sf_dir, q):
        # AQE hides codegen spans until the plan is finalized; execute,
        # then the `*(n)` markers in the final plan prove whole-stage
        # codegen covers the agg pipeline.
        df = q["invoice_featurize"](spark, sf_dir)
        df.collect()
        assert "*(" in plan_of(df, "simple")

    def test_topk_uses_take_ordered(self, spark, sf_dir, q):
        """order-by-limit compiles to TakeOrderedAndProject (per-partition
        heap + driver merge), not a global sort."""
        plan = plan_of(q["order_limit"](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan


class TestRound2Shapes:
    def test_five_way_join_no_nested_loop(self, spark, sf_dir, q):
        plan = plan_of(q["join_five_way_volume"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # dim chain broadcasts

    def test_decontamination_broadcasts_eval_side(self, spark, sf_dir, q):
        plan = plan_of(q["decontamination_overlap"](spark, sf_dir))
        # the benchmark gram set must be the build (broadcast) side; the
        # corpus side must never be broadcast wholesale
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_bigram_topk_take_ordered(self, spark, sf_dir, q):
        plan = plan_of(q["bigram_topk"](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan  # no global Sort before limit

    def test_sequence_packing_no_global_row_window(self, spark, sf_dir, q):
        """The only unpartitioned window may run over shard totals
        (n_docs/100 rows), never over per-document rows."""
        df = q["sequence_packing"](spark, sf_dir)
        phys = plan_of(df, "simple")
        # two Window operators: the per-doc running sum partitioned by
        # shard (hashpartitioning exchange), plus the tiny shard-prefix
        # window (SinglePartition over n_docs/100 rows)
        assert phys.count("Window") >= 2
        assert "hashpartitioning(shard" in phys

    def test_corpus_shuffle_no_global_sort_and_broadcast_offsets(
        self, spark, sf_dir, q
    ):
        """Global shuffle rank must come from shard-partitioned windows +
        a broadcast 256-row offset join — never a corpus-wide range
        exchange (the thing that dies first at 100 TB)."""
        for name in ("corpus_shuffle", "token_budget_sample"):
            phys = plan_of(q[name](spark, sf_dir), "simple")
            assert "hashpartitioning(shard" in phys, name
            assert "Exchange rangepartitioning" not in phys, name
            assert "BroadcastHashJoin" in phys, name

    def test_pagerank_unrolls_three_joins(self, spark, sf_dir, q):
        plan = plan_of(q["pagerank_neardup_graph"](spark, sf_dir))
        # 3 iterations -> at least 3 aggregate pairs over the edge joins
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_cpu_heavy_stages_pin_their_width(self, spark, sf_dir, q):
        """Fix class: stages whose cost is per-GROUP Python
        dispatch or per-PAIR folds must carry a user repartition
        (REPARTITION_BY_NUM — AQE-exempt), because AQE's byte-based
        coalescing serialized them (cogroup 23.5 s -> 3.0 s at sf0.1,
        hard negatives 9.9 -> 3.5 s). The spread guard on one-file scans
        shows up as the same marker via RoundRobinPartitioning."""
        for name in (
            "cogroup_event_attribution",   # groupBy().cogroup() widths
            "hard_negative_mining",        # bucket-join verify width
            "bootstrap_mean_ci",           # B-fold md5 ladder spread
            "ngram_jaccard_pairs",         # shingle spread
            "decontamination_overlap",     # corpus gram-explode spread
        ):
            plan = plan_of(q[name](spark, sf_dir))
            assert "REPARTITION_BY_NUM" in plan, name
        # dsir's spread sits above its localCheckpoint, which truncates
        # lineage — the checkpointed per-(doc,bucket) histogram is what
        # the plan must show instead (Scan ExistingRDD)
        plan = plan_of(q["dsir_importance_weights"](spark, sf_dir))
        assert "ExistingRDD" in plan


class TestAQESkewJoin:
    def test_skewed_partition_gets_split(self, spark):
        """AQE skew-join actually FIRES on a skewed key under realistic
        thresholds scaled to fixture size — the runtime half of the
        salting/skew story (operators/layout.py is the static half)."""
        conf_keys = {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in conf_keys}
        try:
            for k, v in conf_keys.items():
                spark.conf.set(k, v)
            left = (
                spark.range(200_000)
                .select(F.lit(0).alias("k"), F.col("id").alias("v"))
                .unionAll(
                    spark.range(900).select(
                        (F.col("id") % 9 + 1).alias("k"),
                        F.col("id").alias("v"),
                    )
                )
            )
            right = spark.range(10).select(
                F.col("id").alias("k"), F.lit("x").alias("tag")
            )
            j = left.join(right, "k")
            # execute THIS df (count() would plan a different query and
            # leave j's own AQE plan unfinalized)
            assert len(j.collect()) == 200_900
            plan = plan_of(j)
            assert "skew=true" in plan, "AQE did not split the skewed partition"
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestTpchShapePlans:
    """TPC-H shapes: the plan properties that survive a 100x."""

    def test_q17_single_lineitem_scan(self, spark, sf_dir, q):
        """The decorrelated threshold must come from a window over the
        brand slice — ONE lineitem scan — not an aggregate joined back
        (which re-scans the fact table)."""
        plan = plan_of(q["small_quantity_revenue"](spark, sf_dir), "simple")
        assert plan.count("Scan parquet") <= 3  # lineitem once + part once (+AQE reuse)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_q18_take_ordered_no_global_sort(self, spark, sf_dir, q):
        plan = plan_of(q["large_orders"](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan
        assert "BroadcastHashJoin" in plan  # customer is the broadcast side

    def test_q21_decorrelates_without_self_join(self, spark, sf_dir, q):
        """EXISTS + NOT EXISTS fold into one per-order aggregate: exactly
        one lineitem scan, no nested-loop, supplier broadcast."""
        plan = plan_of(q["sole_late_supplier"](spark, sf_dir), "simple")
        assert plan.count("Scan parquet") <= 3
        assert "BroadcastNestedLoopJoin" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_q22_anti_join_shape(self, spark, sf_dir, q):
        """Scalar threshold is a 1-row broadcast; the NOT EXISTS is a hash
        anti-join, never a nested loop over customer x orders."""
        plan = plan_of(q["dormant_rich_customers"](spark, sf_dir), "simple")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_inverted_index_single_agg(self, spark, sf_dir, q):
        """count + countDistinct + collect_set in one keyed aggregation:
        no extra shuffle beyond the term key (countDistinct expands to a
        two-phase agg over the same hashpartitioning)."""
        plan = plan_of(q["inverted_index"](spark, sf_dir), "simple")
        assert "hashpartitioning(term" in plan

    def test_cogroup_shuffles_each_side_once(self, spark, sf_dir, q):
        """FlatMapCoGroupsInArrow (Arrow batches, not pandas blocks,
        cross the Python boundary): one exchange per input, no join node."""
        plan = plan_of(q["cogroup_event_attribution"](spark, sf_dir), "simple")
        assert "FlatMapCoGroupsInArrow" in plan
        assert plan.count("Exchange") == 2
        assert "Join" not in plan


class TestPythonBoundaryPlans:
    def test_arrow_stats_uses_arrow_eval(self, spark, sf_dir, q):
        """mapInArrow plans as an ArrowEvalPython/MapInArrow node over a
        pruned 3-column scan (payload columns never read)."""
        df = q["arrow_text_stats"](spark, sf_dir)
        plan = plan_of(df, "simple")
        assert ("MapInArrow" in plan) or ("ArrowEvalPython" in plan)
        read_schema = plan_of(df).split("ReadSchema")[1].split("\n")[0]
        assert "lang" not in read_schema  # unused column pruned from scan

    def test_surprisal_reuses_exploded_exchange(self, spark, sf_dir, q):
        """The term-count build side and the occurrence probe side come
        from the same explode: AQE must reuse the exchange, not re-explode
        the corpus twice."""
        df = q["doc_surprisal_bits"](spark, sf_dir)
        df.collect()
        plan = plan_of(df, "simple")
        assert "ReusedExchange" in plan or plan.count("Generate") == 1


# ---------------------------------------------------------------------------
# Registry-wide physical-plan hygiene
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_registry_plan_hygiene(spark, sf_dir):
    """Every registered query's physical plan stays free of the 100 TB
    scale-killers: CartesianProduct, row-at-a-time Python (BatchEvalPython),
    and runaway shuffle counts. Iterative algorithms that legitimately
    shuffle per iteration are allowlisted with their reason."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
        REGISTRY,
        queries,
    )

    queries()
    # fixed-iteration label propagation: one shuffle per iteration by design
    shuffle_allow = {"pagerank_neardup_graph"}
    # pipeline composition, not a runaway: the eval-decontamination audit
    # joins the LSH pair frame against the ~2% eval membership on both
    # pair sides — two int64-keyed joins (4 exchanges), a
    # countDistinct two-phase agg, and two 20-group census aggs. Every
    # exchange carries ids or 20-row aggregates; the corpus-scale work
    # lives in the LSH pair pipeline, same as the graph family.
    shuffle_allow.add("eval_train_contamination")
    # same composition argument: the recall matrix joins planted pairs
    # against the checkpointed LSH output (2 exchanges), the bucket-size
    # gate (2), plus one bucket-stats agg and one 16-group census — each
    # keyed on int64 ids or 60-bit bucket hashes, nothing quadratic.
    shuffle_allow.add("dedup_recall_matrix")
    # the five-stage cleaning funnel composes four oracled families
    # in sequence (8 exchanges, itemized): pre-dedup head census (1),
    # content-hash dedup window (1), per-line doc-count agg (1) + the
    # line_hash join back (2), per-doc rollup (1), post-dedup tail
    # census (1), plus the corpus union's source map (1, 20-row
    # localCheckpoint). Every exchange is keyed on int64 hashes, doc
    # ids, or the 20-value source column; nothing quadratic, and the
    # line spine runs over the already-deduped survivor set.
    shuffle_allow.add("cleaning_funnel_report")
    # training queries execute .fit() at build time — cost, not plan shape;
    # their serving plans are pinned in tests/test_ml.py
    skip_build = {"kmeans_invoice_anomalies", "bisecting_invoice_anomalies"}
    offenders = []
    for name, spec in REGISTRY.items():
        if name in skip_build:
            continue
        plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        problems = []
        if plan.count("CartesianProduct"):
            problems.append("CartesianProduct")
        if plan.count("BatchEvalPython"):
            problems.append("row-at-a-time Python UDF")
        if n_shuffles >= 5 and name not in shuffle_allow:
            problems.append(f"{n_shuffles} shuffles")
        if problems:
            offenders.append((name, problems))
    assert not offenders, f"plan hygiene regressions: {offenders}"
