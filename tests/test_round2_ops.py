"""Invariant tests for the round-2 operator additions (beyond the
oracle-equality gate in test_queries_oracle.py): quality flags behave on
crafted inputs, packing conserves tokens, quantization bounds error,
PageRank conserves (approximate) total mass.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_invoice_anomaly_detection_spark.operators import text as X
from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
    _PACK_BIN,
    _PR_ITERS,
    _PR_SCALE,
    q_chunk_dedup,
    q_decontamination,
    q_embedding_quantize,
    q_gopher_quality_flags,
    q_pagerank_neardup,
    q_sequence_packing,
)


class TestGopherFlags:
    def test_prose_passes_all_rules(self, spark):
        text = (
            "the quick brown fox jumps over the lazy dog and then runs to "
            "the river of light with a friend that may have seen it before"
        )
        df = spark.createDataFrame([(text,)], "text string")
        row = df.select(
            *[c.alias(n) for n, c in X.gopher_flags(F.col("text")).items()]
        ).first()
        assert row.keep is True
        assert row.word_count_ok and row.wordlen_ok
        assert row.symbol_ok and row.alpha_ok and row.stopword_ok

    def test_symbol_soup_fails(self, spark):
        text = "### ### ... ### " * 10
        df = spark.createDataFrame([(text,)], "text string")
        row = df.select(
            *[c.alias(n) for n, c in X.gopher_flags(F.col("text")).items()]
        ).first()
        assert row.keep is False
        assert row.symbol_ok is False  # symbols dominate
        assert row.alpha_ok is False  # no alphabetic words

    def test_short_doc_fails_word_count(self, spark):
        df = spark.createDataFrame([("too short",)], "text string")
        row = df.select(
            *[c.alias(n) for n, c in X.gopher_flags(F.col("text")).items()]
        ).first()
        assert row.n_words == 2
        assert row.word_count_ok is False and row.keep is False


class TestSequencePacking:
    def test_token_conservation_and_contiguity(self, spark, sf_dir):
        bins = q_sequence_packing(spark, sf_dir).orderBy("bin").collect()
        total_packed = sum(r.n_tokens for r in bins)
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )

        total_tokens = (
            load_table(spark, "documents", sf_dir)
            .select(
                F.sum(
                    X.bpe_token_estimate(F.col("text")).cast("long")
                ).alias("t")
            )
            .first()
            .t
        )
        assert total_packed == total_tokens  # packing loses nothing
        # bins are contiguous id ranges: each bin's first_doc follows the
        # previous bin's last_doc (greedy packing never reorders)
        for prev, cur in zip(bins, bins[1:]):
            assert prev.last_doc <= cur.first_doc
        # every bin except possibly the last starts within budget of the
        # global offset grid: n_docs >= 1 and bin ids are dense
        assert [r.bin for r in bins] == list(range(len(bins)))


class TestChunkDedup:
    def test_planted_copies_fully_duplicated(self, spark, sf_dir):
        rows = q_chunk_dedup(spark, sf_dir).collect()
        by_id = {r.doc_id: r for r in rows}
        # every original doc's chunks are duplicated by its verbatim copy
        originals = [r for r in rows if r.doc_id < 1_000_000]
        assert originals
        for r in originals:
            assert r.dup_chunk_frac == pytest.approx(1.0)
            assert by_id[r.doc_id + 1_000_000].n_chunks == r.n_chunks


class TestDecontamination:
    def test_planted_eval_docs_detected(self, spark, sf_dir):
        rows = q_decontamination(spark, sf_dir).collect()
        # each eval doc is a truncation of its source: the source must be
        # flagged with high overlap
        hits = {(r.doc_id, r.eval_id): r.overlap_frac for r in rows}
        assert hits, "no contamination detected for planted eval set"
        for (doc_id, eval_id), frac in hits.items():
            if eval_id == doc_id + 1_000_000:
                # truncation cuts mid-word: the partial first token makes
                # the eval copy's leading grams novel, so overlap < 1.0
                assert frac > 0.7
        assert any(e == d + 1_000_000 for d, e in hits)


class TestEmbeddingQuantize:
    def test_error_bounded_by_half_scale_per_dim(self, spark, sf_dir):
        rows = q_embedding_quantize(spark, sf_dir).collect()
        for r in rows:
            # |x - q*scale| <= scale/2 per dim (round-to-nearest)
            assert r.recon_err <= r.n_dims * (r.scale / 2.0) ** 2 + 1e-12
            assert r.scale > 0


class TestPageRank:
    def test_mass_approximately_conserved(self, spark, sf_dir):
        rows = q_pagerank_neardup(spark, sf_dir).collect()
        n = len(rows)
        total = sum(r.rank_scaled for r in rows)
        # dangling nodes leak damping mass; floor-division truncates. Total
        # stays in (teleport-only lower bound, full mass upper bound].
        assert total <= _PR_SCALE
        assert total >= (15 * _PR_SCALE) // 100 - n * _PR_ITERS
        assert all(r.rank_scaled >= (15 * _PR_SCALE) // (100 * n) for r in rows)
        # near-dup partners (planted copies) must out-rank isolated docs
        ranked = {r.doc_id: r.rank_scaled for r in rows}
        linked = [v for k, v in ranked.items() if k >= 1_000_000]
        assert max(linked) > min(ranked.values())


class TestApproxQuantiles:
    def test_within_rank_error_of_exact(self, spark, sf_dir):
        from spark_streaming_invoice_anomaly_detection_spark.plans.relational import (
            q_approx_quantiles,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )

        approx = {
            r.event_type: (r.q25_approx, r.q50_approx, r.q75_approx)
            for r in q_approx_quantiles(spark, sf_dir).collect()
        }
        ev = load_table(spark, "events", sf_dir)
        exact = {
            r.event_type: r.q
            for r in ev.groupBy("event_type")
            .agg(F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("q"))
            .collect()
        }
        for etype, qs in approx.items():
            for a, e in zip(qs, exact[etype]):
                # GK accuracy 10k on these group sizes is near-exact; allow
                # a loose 5% envelope to keep the pin robust across SFs
                assert a == pytest.approx(e, rel=0.05, abs=1.0)


class TestLabelSpectrum:
    def test_matches_local_numpy(self, spark, sf_dir):
        import numpy as np

        from spark_streaming_invoice_anomaly_detection_spark.operators.vectors import (
            label_top_eigenvalue,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )

        emb = load_table(spark, "embeddings", sf_dir)
        got = {r.label: r for r in label_top_eigenvalue(emb).collect()}
        rows = emb.collect()
        by_label: dict[int, list] = {}
        for r in rows:
            by_label.setdefault(r.label, []).append(
                np.asarray(r.embedding, dtype=np.float64)
            )
        for label, vecs in by_label.items():
            mat = np.array(vecs)
            centered = mat - mat.mean(axis=0, keepdims=True)
            cov = (centered.T @ centered) / max(len(mat) - 1, 1)
            eig = np.linalg.eigvalsh(cov)
            r = got[label]
            assert r.n_vectors == len(vecs)
            assert r.top_eigenvalue == pytest.approx(float(eig[-1]), rel=1e-9)
            assert 0.0 < r.explained_share <= 1.0


class TestObservedMetrics:
    def test_metrics_computed_inline(self, spark, sf_dir):
        import pyspark.sql.functions as FF

        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )
        from spark_streaming_invoice_anomaly_detection_spark.streaming.monitor import (
            observed,
        )

        li = load_table(spark, "lineitem", sf_dir)
        df, obs = observed(
            li.filter(FF.col("l_quantity") > 25),
            "filtered",
            FF.count(FF.lit(1)).alias("rows_out"),
            FF.sum("l_quantity").alias("qty_out"),
        )
        n = df.count()
        assert obs.get["rows_out"] == n
        assert obs.get["qty_out"] > 25 * max(n - 1, 1)


class TestArrowTextStatsUnicode:
    def test_codepoint_semantics_on_non_ascii(self, spark):
        """n_chars_utf8 counts CODEPOINTS (pc.utf8_length), and the DuckDB
        oracle uses length() (also codepoints) — pinned here on non-ASCII
        input so a future ASCII-only testdata regeneration can't hide a
        bytes-vs-codepoints regression (r2 ADVICE #4)."""
        import duckdb

        from spark_streaming_invoice_anomaly_detection_spark.operators.arrowops import (
            text_stats_arrow,
        )

        texts = ["héllo wörld", "日本語 テスト", "emoji 🎉 text", "plain"]
        df = spark.createDataFrame(
            [(i, t, "s") for i, t in enumerate(texts)],
            "doc_id long, text string, source string",
        )
        got = {r.doc_id: r.n_chars_utf8 for r in text_stats_arrow(df).collect()}
        want_py = {i: len(t) for i, t in enumerate(texts)}
        assert got == want_py
        con = duckdb.connect()
        for i, t in enumerate(texts):
            assert con.execute("SELECT length(?)", [t]).fetchone()[0] == want_py[i]

