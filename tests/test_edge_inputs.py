"""Edge-input hardening: empty frames, empty strings, and degenerate
shapes must flow through the operator library without exceptions — the
failure mode that only shows up in production partitions that happen to be
empty (a routine occurrence at 1000-executor scale).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_invoice_anomaly_detection_spark.operators import (
    dedup as D,
    text as X,
)
from spark_streaming_invoice_anomaly_detection_spark.operators.featurize import (
    featurize_invoices,
    filter_valid_invoices,
)


@pytest.fixture()
def empty_lines(spark):
    return spark.createDataFrame(
        [],
        "invoice_no string, quantity int, invoice_date string, "
        "unit_price double, customer_id string, country string, hour double",
    )


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


class TestEmptyFrames:
    def test_featurize_empty(self, empty_lines):
        out = featurize_invoices(empty_lines)
        assert out.count() == 0
        assert "avg_unit_price" in out.columns

    def test_filter_valid_empty(self, empty_lines):
        feats = featurize_invoices(empty_lines)
        assert filter_valid_invoices(feats).count() == 0

    def test_exact_dedup_empty(self, empty_docs):
        assert D.exact_dedup(empty_docs).count() == 0

    def test_minhash_empty(self, empty_docs):
        out = D.minhash_near_dups(empty_docs)
        assert out.count() == 0

    def test_simhash_empty(self, empty_docs):
        assert D.simhash_docs(empty_docs).count() == 0


class TestDegenerateText:
    def _flags(self, spark, text):
        df = spark.createDataFrame([(text,)], "text string")
        return df.select(
            *[c.alias(n) for n, c in X.gopher_flags(F.col("text")).items()]
        ).first()

    def test_empty_string_gopher(self, spark):
        row = self._flags(spark, "")
        assert row.n_words == 0
        assert row.keep is False  # fails word count, never crashes

    def test_whitespace_only(self, spark):
        row = self._flags(spark, "   \t  \n ")
        assert row.n_words == 0 and row.keep is False

    def test_single_char_tokenize(self, spark):
        df = spark.createDataFrame([("a",)], "text string")
        r = df.select(
            X.token_count(F.col("text")).alias("n"),
            X.doc_fingerprint(F.col("text")).alias("fp"),
            X.lang_id(F.col("text")).alias("lang"),
        ).first()
        assert r.n == 1
        assert r.fp is None  # shorter than the 5-gram window
        assert r.lang == "und"  # no stopword list contains bare 'a'

    def test_word_ngrams_short_doc_empty_not_reversed(self, spark):
        # F.sequence(1, 0) counts DOWN in Spark; the guard must yield []
        df = spark.createDataFrame([("one two",)], "text string")
        r = df.select(
            X.word_ngrams(X.tokenize(F.col("text")), 5).alias("g")
        ).first()
        assert r.g == []

    def test_quality_score_bounded(self, spark):
        texts = ["", "x", "###", "the " * 500, "a b c. " * 40]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        for r in df.select(X.quality_score(F.col("text")).alias("q")).collect():
            assert 0.0 <= r.q <= 1.0


class TestDegenerateVectors:
    def test_zero_vector_quantizes_without_division_error(self, spark):
        from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
            q_embedding_quantize,
        )
        from pyspark.sql import types as T

        # route a zero vector through the same expression chain by name
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        )
        df = spark.createDataFrame([(0, [0.0, 0.0, 0.0], 0)], schema)
        vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        amax = F.array_max(F.transform(vd, F.abs))
        scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
        q = F.transform(
            vd,
            lambda x: F.floor(x / scale + 0.5).cast("int"),
        )
        r = df.select(scale.alias("s"), q.alias("q")).first()
        assert r.s == 1.0 and r.q == [0, 0, 0]

    def test_cosine_of_zero_vector_is_null_not_error(self, spark):
        # under ANSI mode (Spark 4 default) an unguarded 0/0 division
        # RAISES; the operator must instead yield null for zero norms
        from spark_streaming_invoice_anomaly_detection_spark.operators.dedup import (
            cosine,
        )

        df = spark.createDataFrame(
            [([0.0, 0.0], [1.0, 1.0]), ([1.0, 0.0], [1.0, 0.0])],
            "a array<double>, b array<double>",
        )
        rows = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
        assert rows[0].c is None
        assert rows[1].c == 1.0


class TestEmptySketchesAndCuration:
    def test_hll_rollup_empty(self, spark):
        from spark_streaming_invoice_anomaly_detection_spark.operators import (
            sketches as sk,
        )

        empty = spark.createDataFrame(
            [], "event_type string, day date, user_id long"
        )
        daily = sk.distinct_sketches(empty, ["event_type", "day"], "user_id")
        assert sk.rollup_distinct(daily, ["event_type"]).count() == 0

    def test_cms_summary_empty_group(self, spark):
        """An all-NULL value group still yields a parseable sketch whose
        total_count is 0 (count_min_sketch skips nulls)."""
        from spark_streaming_invoice_anomaly_detection_spark.operators import (
            sketches as sk,
        )

        df = spark.createDataFrame(
            [("a", None), ("a", None)], "g string, v long"
        )
        row = df.groupBy("g").agg(
            sk.cms_agg("v", 0.1, 0.9, 1).alias("s")
        ).collect()[0]
        assert sk.parse_cms(bytes(row["s"])).total_count == 0

    def test_cms_summary_integer_group_column(self, spark, sf_dir):
        """Group columns keep their real types (regression: schema was
        hardcoded string and crashed Arrow on int keys)."""
        from spark_streaming_invoice_anomaly_detection_spark.operators import (
            sketches as sk,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )

        ev = load_table(spark, "events", sf_dir).limit(200)
        out = sk.cms_summary(ev, ["user_id"], "event_type", 0.1, 0.9, 3)
        assert dict(out.dtypes)["user_id"] == "bigint"
        assert out.count() > 0

    def test_corpus_shuffle_empty_documents(self, spark, tmp_path):
        """The two-level rank path flows through an empty corpus."""
        import os

        from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
            q_corpus_shuffle,
            q_token_budget_sample,
        )

        d = str(tmp_path / "sf_empty")
        os.makedirs(d)
        spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        assert q_corpus_shuffle(spark, d).count() == 0
        assert q_token_budget_sample(spark, d).count() == 0


def test_mmr_pool_smaller_than_k(spark, tmp_path):
    """A corpus smaller than the MMR k must yield that many ranked rows,
    not crash on an exhausted pool (rem.first() returning None)."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
        _MMR_K,
        q_mmr_diversified_topk,
    )

    path = str(tmp_path / "sf_tiny")
    import os

    os.makedirs(path, exist_ok=True)
    tiny = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    tiny.write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
    out = q_mmr_diversified_topk(spark, path).collect()
    assert len(out) == 3 < _MMR_K
    assert sorted(r.mmr_rank for r in out) == [1, 2, 3]


def test_ks_drift_single_half_type_is_null_not_error(spark, tmp_path):
    """An event type living entirely in one time half has no defined KS
    statistic: expect a NULL row, not an ANSI divide-by-zero abort."""
    import datetime as dt
    import os

    from spark_streaming_invoice_anomaly_detection_spark.plans.advanced import (
        q_ks_drift_by_type,
    )

    path = str(tmp_path / "sf_ks")
    os.makedirs(path, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # 'early' only exists in the first half; 'both' spans the range
        (1, t0, 7, "early", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), 8, "early", 2.0, "{}"),
        (3, t0, 9, "both", 1.0, "{}"),
        (4, t0 + dt.timedelta(days=9), 9, "both", 5.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")
    got = {r.event_type: r for r in q_ks_drift_by_type(spark, path).collect()}
    assert got["early"].ks_stat is None
    assert got["early"].n2 == 0
    assert got["both"].ks_stat == 1.0  # disjoint halves: maximal drift


class TestSemanticDedupEdges:
    def test_empty_corpus(self, spark):
        from spark_streaming_invoice_anomaly_detection_spark.operators.similarity import (
            ivf_centroid_values,
        )

        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        )
        out = D.semantic_dedup_census(
            empty, ivf_centroid_values(4, 4), dim=4
        )
        assert out.count() == 0

    def test_single_and_zero_vector_no_sub_planes(self, spark):
        """sub_planes=0 (constant bucket) branch; a zero vector has null
        cosine to everything, so it can neither dominate nor be dominated
        — it must survive, not raise (ANSI 0/0)."""
        from spark_streaming_invoice_anomaly_detection_spark.operators.similarity import (
            ivf_centroid_values,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0, 0.0]),
                (2, [2.0, 0.0, 0.0, 0.0]),  # same direction: dominated by 1
                (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector: kept
            ],
            "vec_id long, embedding array<double>",
        )
        rows = D.semantic_dedup_census(
            df, ivf_centroid_values(4, 4), threshold=0.9, sub_planes=0, dim=4
        ).collect()
        assert sum(r.n_vectors for r in rows) == 3
        assert sum(r.n_dropped for r in rows) == 1  # only the scaled copy


class TestTrendAndCusumDegenerate:
    def test_single_day_series(self, spark, tmp_path):
        """One day per type: slope/r2 must be null (zero x-variance), the
        CUSUM excess exactly 0 with no alarm — not a division error."""
        import pandas as pd

        from spark_streaming_invoice_anomaly_detection_spark.plans.advanced import (
            q_cusum_daily_drift,
            q_daily_trend_slope,
        )

        sf = str(tmp_path)
        pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts": pd.to_datetime(["2024-03-01 10:00", "2024-03-01 11:00"]),
                "user_id": [7, 8],
                "event_type": ["click", "click"],
                "value": [1.25, 2.5],
                "props": ["{}", "{}"],
            }
        ).to_parquet(f"{sf}/events.parquet")
        trend = q_daily_trend_slope(spark, sf).collect()
        assert len(trend) == 1
        assert trend[0].n_days == 1
        assert trend[0].mean_daily == pytest.approx(3.75)
        assert trend[0].slope_per_day is None
        assert trend[0].r2 is None
        cusum = q_cusum_daily_drift(spark, sf).collect()
        assert len(cusum) == 1
        assert cusum[0].cusum_excess == 0.0
        assert cusum[0].alarm is False


class TestSelectionQueryEdges:
    """Degenerate inputs for the fp_log2-based selection/drift family."""

    def _write_docs(self, spark, tmp_path, rows):
        import os

        d = str(tmp_path / "sf_sel")
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return d

    def test_dsir_empty_corpus(self, spark, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
            q_dsir_importance,
        )

        d = self._write_docs(spark, tmp_path, [])
        assert q_dsir_importance(spark, d).count() == 0

    def test_dsir_no_target_docs(self, spark, tmp_path):
        """No en doc at all: every bucket's target count is 0 (smoothed to
        1), weights are uniformly non-positive, nothing is selected."""
        from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
            q_dsir_importance,
        )

        d = self._write_docs(
            spark,
            tmp_path,
            [
                (1, "uno dos tres cuatro", "es", "s1", 19),
                (2, "cinco seis siete", "es", "s1", 16),
            ],
        )
        rows = q_dsir_importance(spark, d).collect()
        assert len(rows) == 2
        assert all(r.w_fp <= 0 and not r.selected for r in rows)

    def test_dsir_single_token_doc_has_no_bigrams(self, spark, tmp_path):
        """One token: the bigram guard must yield an empty array, not a
        descending sequence(1, 0) = [1, 0] ghost gram."""
        from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
            q_dsir_importance,
        )

        d = self._write_docs(
            spark, tmp_path, [(1, "solo", "en", "s1", 4)]
        )
        rows = q_dsir_importance(spark, d).collect()
        assert len(rows) == 1
        assert rows[0].n_grams == 1  # the unigram only

    def test_entropy_single_token_type(self, spark, tmp_path):
        """A doc repeating one token has exactly zero entropy (h_fp == 0,
        not merely close)."""
        from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
            q_token_entropy,
        )

        d = self._write_docs(
            spark, tmp_path, [(1, "spam spam spam spam", "en", "s1", 19)]
        )
        r = q_token_entropy(spark, d).collect()[0]
        assert r.n_tokens == 4 and r.n_distinct_tokens == 1
        assert r.h_fp == 0 and r.entropy_bits == 0.0

    def test_pmi_all_below_support_is_empty(self, spark, tmp_path):
        from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
            q_source_pmi,
        )

        d = self._write_docs(
            spark, tmp_path, [(1, "rare words only once", "en", "s1", 20)]
        )
        assert q_source_pmi(spark, d).count() == 0

    def test_jl_zero_difference_pair_is_null(self, spark, tmp_path):
        """Identical consecutive vectors: sq_dist 0 -> distortion NULL,
        never an ANSI divide-by-zero."""
        import os

        from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
            q_jl_distortion,
        )

        d = str(tmp_path / "sf_jl")
        os.makedirs(d, exist_ok=True)
        v = [1.0] * 64
        spark.createDataFrame(
            [(1, v), (2, v), (3, [float(j % 3) for j in range(64)])],
            "vec_id long, embedding array<double>",
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        rows = {r.vec_id_a: r for r in q_jl_distortion(spark, d).collect()}
        assert rows[1].sq_dist == 0.0 and rows[1].distortion is None
        assert rows[2].sq_dist > 0 and rows[2].distortion is not None

    def test_psi_single_half_events(self, spark, tmp_path):
        """All events in one timestamp: the midpoint split puts everything
        in half 1 (ts >= mid), half 0 is empty -> smoothed PSI is finite,
        no division error."""
        import pandas as pd

        from spark_streaming_invoice_anomaly_detection_spark.plans.advanced import (
            q_value_drift_psi,
        )

        sf = str(tmp_path)
        pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts": pd.to_datetime(["2024-03-01 10:00", "2024-03-01 10:00"]),
                "user_id": [7, 8],
                "event_type": ["click", "click"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ).to_parquet(f"{sf}/events.parquet")
        rows = q_value_drift_psi(spark, sf).collect()
        assert len(rows) == 1
        assert rows[0].n1 == 0 and rows[0].n2 == 2
        assert rows[0].psi_bits is not None


class TestDriftDegenerateOracleParity:
    """Post-review regressions: the degenerate shapes must not only run,
    they must still MATCH the DuckDB oracle (the crash/divergence class
    the guards exist for)."""

    def _events_dir(self, spark, tmp_path, values):
        import datetime as dt

        import pandas as pd

        sf = str(tmp_path)
        n = len(values)
        pd.DataFrame(
            {
                "event_id": list(range(n)),
                "ts": [
                    dt.datetime(2024, 3, 1) + dt.timedelta(hours=6 * i)
                    for i in range(n)
                ],
                "user_id": [7] * n,
                "event_type": ["click"] * n,
                "value": values,
                "props": ["{}"] * n,
            }
        ).to_parquet(f"{sf}/events.parquet")
        return sf

    def _assert_oracle_parity(self, spark, sf, name):
        import duckdb

        from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
            REGISTRY,
            queries,
        )

        from .oracle import assert_matches_oracle

        queries()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf}/events.parquet')"
        )
        spec = REGISTRY[name]
        assert_matches_oracle(
            spec.spark(spark, sf), con, spec.oracle, name=name
        )
        con.close()

    def test_constant_values_tv_and_psi(self, spark, tmp_path):
        """All values identical: bin width is zero — guarded to bin 0 on
        both engines (was: NaN int-cast abort under ANSI, and a silent
        Spark-0 vs DuckDB-19 bin divergence otherwise)."""
        sf = self._events_dir(spark, tmp_path, [5.0, 5.0, 5.0, 5.0])
        self._assert_oracle_parity(spark, sf, "value_drift_tv")
        self._assert_oracle_parity(spark, sf, "value_drift_psi")

    def test_null_values_keep_tv_null_bin_semantics(self, spark, tmp_path):
        """TV keeps NULL values (top bin on both engines) — the refactor
        must not have changed that."""
        sf = self._events_dir(spark, tmp_path, [1.0, None, 2.0, None])
        self._assert_oracle_parity(spark, sf, "value_drift_tv")
        self._assert_oracle_parity(spark, sf, "value_drift_psi")


def test_dsir_null_lang_counts_as_zero_target(spark, tmp_path):
    """NULL lang must contribute 0 target evidence, not poison a bucket's
    score with NULL (post-review regression)."""
    import duckdb

    from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
        REGISTRY,
        queries,
    )

    from .oracle import assert_matches_oracle

    queries()
    d = str(tmp_path / "sf_null_lang")
    import os

    os.makedirs(d)
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", None, "s1", 22),
            (2, "alpha beta gamma delta", "en", "s1", 22),
            (3, "epsilon zeta eta theta", "es", "s1", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    spec = REGISTRY["dsir_importance_weights"]
    rows = spec.spark(spark, d).collect()
    assert len(rows) == 3
    assert all(r.w_fp is not None for r in rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.spark(spark, d), con, spec.oracle, name="dsir_null_lang"
    )
    con.close()


def test_histogram_baseline_empty_raises_clear_error(spark):
    import pytest as _pytest

    from spark_streaming_invoice_anomaly_detection_spark.streaming.drift import (
        histogram_baseline,
    )

    empty = spark.createDataFrame([], "v double")
    with _pytest.raises(ValueError, match="no non-null"):
        histogram_baseline(empty, "v")
