"""Focused pins for the r12 optimization-round internals.

Each optimization changed HOW an operator computes, never WHAT: these
tests pin the value-identity arguments (window-min star steps, observe-
fused convergence counts, the Arrow cogroup rewrite) and the hygiene
contracts (table-cache eviction, jaccard_distinct null caveat) so a later
edit can't silently regress either side.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators.graph import (
    _cc_star,
    connected_components,
)
from spark_streaming_invoice_anomaly_detection_spark.sources import catalog


def _random_pairs(spark, seed, n_nodes=40, n_edges=60):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(1, n_nodes), rng.randrange(1, n_nodes))
        for _ in range(n_edges)
    ]
    return spark.createDataFrame(edges, "id_a long, id_b long")


class TestStarWindowRoundStep:
    """The r12 star round computes per-center mins with a window aggregate
    instead of groupBy + self-join, and feeds the small-star union from
    window rows instead of one-row-per-center smins. Both rewrites must
    produce the identical edge SET per round — pinned against the r11
    groupBy+join formulation on random graphs."""

    def _round_join_form(self, edges):
        # the pre-r12 formulation, verbatim
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("u"), F.col("b").alias("v"))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("u"), F.col("mn")).alias("a"),
                F.col("v").alias("b"),
            )
            .distinct()
        )
        smins = large.groupBy("b").agg(F.min("a").alias("mn"))
        return (
            large.join(smins, "b")
            .filter(F.col("a") != F.col("mn"))
            .select(F.col("mn").alias("a"), F.col("a").alias("b"))
            .unionByName(
                smins.select(F.col("mn").alias("a"), F.col("b").alias("b"))
            )
            .distinct()
        )

    def _round_window_form(self, edges):
        from pyspark.sql import Window

        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("u"), F.col("b").alias("v"))
        lg = sym.withColumn("mn", F.min("v").over(Window.partitionBy("u")))
        large = (
            lg.filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("u"), F.col("mn")).alias("a"),
                F.col("v").alias("b"),
            )
            .distinct()
        )
        sm = large.withColumn(
            "mn", F.min("a").over(Window.partitionBy("b"))
        )
        return (
            sm.filter(F.col("a") != F.col("mn"))
            .select(F.col("mn").alias("a"), F.col("a").alias("b"))
            .unionByName(
                sm.select(F.col("mn").alias("a"), F.col("b").alias("b"))
            )
            .distinct()
        )

    def test_round_edge_sets_identical(self, spark):
        for seed in (1, 7, 42):
            pairs = _random_pairs(spark, seed)
            canon = (
                pairs.select(
                    F.least("id_a", "id_b").alias("a"),
                    F.greatest("id_a", "id_b").alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            want = sorted(
                map(tuple, self._round_join_form(canon).collect())
            )
            got = sorted(
                map(tuple, self._round_window_form(canon).collect())
            )
            assert got == want, f"seed={seed}"


class TestObserveFusedLoops:
    """The convergence counts now ride as observed metrics on each round's
    checkpoint job. Degenerate inputs must terminate cleanly (an empty or
    self-loop-only graph exercises the zero-row observation path)."""

    def test_empty_pairs_propagation_and_star(self, spark):
        empty = spark.createDataFrame([], "id_a long, id_b long")
        for algo in ("propagation", "star"):
            got = connected_components(empty, algorithm=algo).collect()
            assert got == [], algo

    def test_self_loop_only_star(self, spark):
        pairs = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
        got = {r.node: r.comp for r in _cc_star(pairs, "id_a", "id_b", 5).collect()}
        assert got == {5: 5}

    def test_auto_still_reaches_fixpoint(self, spark):
        # 20-node chain: forces several propagation rounds through the
        # observed-count path (and the stall probe reads the same metric)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 20)], "id_a long, id_b long"
        )
        got = {
            r.node: r.comp
            for r in connected_components(
                pairs, max_iter=25, algorithm="auto"
            ).collect()
        }
        assert got == {i: 1 for i in range(1, 21)}


class TestArrowCogroup:
    """event_attribution moved to cogrouped applyInArrow; values must
    match the definitional range-join + re-aggregate on synthetic data,
    including customers with no events (left-outer zero counts)."""

    def test_matches_range_join(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 10, 12, 0, 0)
        events = spark.createDataFrame(
            [
                (1, base - dt.timedelta(days=1)),
                (1, base - dt.timedelta(days=6, hours=23)),
                (1, base - dt.timedelta(days=8)),   # outside window
                (2, base),                           # boundary: ts == hi
                (3, base - dt.timedelta(days=3)),
            ],
            "user_id long, ts timestamp",
        )
        orders = spark.createDataFrame(
            [
                (1, 101, dt.datetime(2024, 1, 10, 12, 0, 0)),
                (2, 102, dt.datetime(2024, 1, 10, 12, 0, 0)),
                (3, 103, dt.datetime(2023, 12, 1, 0, 0, 0)),  # no events
                (4, 104, dt.datetime(2024, 1, 10, 12, 0, 0)),  # no user
            ],
            "o_custkey long, o_orderkey long, o_orderdate timestamp",
        )
        from spark_streaming_invoice_anomaly_detection_spark.operators.cogroup import (
            event_attribution,
        )

        got = {
            r.o_orderkey: r.n_events_7d
            for r in event_attribution(events, orders).collect()
        }
        # definitional range join + re-aggregate
        j = (
            orders.join(
                events,
                (events.user_id == orders.o_custkey)
                & (events.ts > orders.o_orderdate - F.expr("INTERVAL 7 DAYS"))
                & (events.ts <= orders.o_orderdate),
                "left",
            )
            .groupBy("o_orderkey")
            .agg(F.count("ts").alias("n"))
        )
        want = {r.o_orderkey: r.n for r in j.collect()}
        assert got == want
        assert want[103] == 0 and want[104] == 0  # left-outer zeros kept


class TestJaccardDistinctNulls:
    """NULL-input pin (r11 ADVICE): under this engine's Spark-4/ANSI
    semantics size(NULL) is NULL, so BOTH jaccard forms return 0.0 on a
    NULL side — parity holds. (Under legacy sizeOfNull = -1 they would
    diverge; the docstring bans exporting the helper into such a
    session.) This pins the actual behavior so a Spark upgrade or conf
    change that flips size(NULL) semantics fails loudly here."""

    def test_null_inputs_agree_at_zero(self, spark):
        from spark_streaming_invoice_anomaly_detection_spark.operators.dedup import (
            jaccard,
            jaccard_distinct,
        )

        rows = [(None, ["a", "b"]), (["a"], None), (None, None)]
        df = spark.createDataFrame(
            rows, "a array<string>, b array<string>"
        )
        for row in df.select(
            jaccard(F.col("a"), F.col("b")).alias("j"),
            jaccard_distinct(F.col("a"), F.col("b")).alias("jd"),
        ).collect():
            assert row.j == 0.0
            assert row.jd == 0.0


class TestQualityScoreAlnumRewrite:
    """quality_score's alnum-char count moved from
    size(regexp_extract_all(c, '[A-Za-z0-9]')) — one array element PER
    CHARACTER — to a length difference over regexp_replace. Same integer
    by construction (single-char matches cannot overlap), same NULL
    propagation; this pins the full score against the definitional
    form on the edge rows."""

    def _score_old(self, c):
        from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
            stopword_hits,
            tokenize,
        )

        tokens = tokenize(c)
        n_tok = F.size(tokens)
        n_chars = F.length(c)
        n_alnum = F.size(
            F.regexp_extract_all(c, F.lit("[A-Za-z0-9]"), F.lit(0))
        )
        n_stop = stopword_hits(tokens, "en")
        len_ok = ((n_chars >= 50) & (n_chars <= 2000)).cast("double")
        alnum_ratio = n_alnum.cast("double") / F.greatest(
            n_chars, F.lit(1)
        ).cast("double")
        stop_ratio = n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast(
            "double"
        )
        mean_wordlen = n_alnum.cast("double") / F.greatest(
            n_tok, F.lit(1)
        ).cast("double")
        wordlen_ok = ((mean_wordlen >= 2.0) & (mean_wordlen <= 12.0)).cast(
            "double"
        )
        return (
            len_ok * 0.25
            + alnum_ratio * 0.25
            + stop_ratio * 0.25
            + wordlen_ok * 0.25
        )

    def test_matches_definitional_form(self, spark):
        from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
            quality_score,
        )

        rows = [
            ("the quick brown fox 123",),
            ("",),
            (None,),
            ("   ",),
            ("日本語テキスト no ascii here 漢字",),
            ("a" * 3000,),
            ("!!! ### ...",),
            ("the and of to in is that it for was " * 10,),
        ]
        df = spark.createDataFrame(rows, "text string")
        got = df.select(
            "text",
            quality_score(F.col("text")).alias("a"),
            self._score_old(F.col("text")).alias("b"),
        ).collect()
        for r in got:
            assert r.a == r.b, r.text

    def test_matches_on_real_corpus(self, spark, sf_dir):
        from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
            quality_score,
        )

        docs = catalog.load_table(spark, "documents", sf_dir)
        mism = (
            docs.select(
                (
                    quality_score(F.col("text"))
                    != self._score_old(F.col("text"))
                ).alias("d")
            )
            .filter("d")
            .count()
        )
        assert mism == 0


class TestTableCacheEviction:
    def test_stale_application_cache_cleared_on_load(
        self, spark, sf_dir, monkeypatch
    ):
        """Handles cached under another application are never returned:
        the first load under the live application clears them, and the
        fresh handle is then memoized."""
        key = (sf_dir, "orders")
        monkeypatch.setattr(catalog, "_TABLE_CACHE_APP", "app-of-a-stopped-session")
        monkeypatch.setattr(catalog, "_TABLE_CACHE", {key: "sentinel"})
        df = catalog.load_table(spark, "orders", sf_dir)
        assert isinstance(df, DataFrame)
        assert list(catalog._TABLE_CACHE) == [key]
        assert catalog._TABLE_CACHE_APP == spark.sparkContext.applicationId
        assert catalog.load_table(spark, "orders", sf_dir) is df

    def test_shared_handle_not_cached(self, spark, sf_dir):
        """The shared-handle contract: consumers must not persist the
        memoized handle itself — nothing may sit in the CacheManager for
        a bare load_table frame."""
        df = catalog.load_table(spark, "lineitem", sf_dir)
        assert not df.is_cached
