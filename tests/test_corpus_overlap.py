"""Semantic pins for the corpus-overlap / chunk-planning family
(bow_dedup_groups, weighted_jaccard_sources, doc_chunk_plan,
token_gini_by_source, source_bigram_cosine) — invariants the DuckDB hash
oracle cannot express (the oracle proves cross-engine equality; these
prove the SHARED definition means what the docstrings claim).
"""

from __future__ import annotations

import math

import pytest

from spark_streaming_invoice_anomaly_detection_spark.plans import extensions as E
from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import load_table


def test_bow_dedup_catches_reorderings_exact_dedup_misses(spark, sf_dir):
    """Every planted token-reversed copy lands in a bag group of byte-
    DISTINCT members (n_texts >= 2 whenever the original has >= 2 tokens
    in distinct order); byte-identical pairs would show n_texts == 1."""
    rows = E.q_bow_dedup_groups(spark, sf_dir).collect()
    assert rows, "no bag groups found despite planted reversed copies"
    n_docs_total = load_table(spark, "documents", sf_dir).count()
    # every original shares a bag with its reversed copy, so ALL 2N docs
    # sit in >=2-member groups: total group membership is exactly 2N
    assert sum(r.n_docs for r in rows) == 2 * n_docs_total
    for r in rows:
        assert r.n_docs >= 2
        assert 1 <= r.n_texts <= r.n_docs
    # reversal changes bytes for the overwhelming majority of docs:
    # groups with byte-distinct members must dominate
    distinct_text_groups = sum(1 for r in rows if r.n_texts >= 2)
    assert distinct_text_groups >= 0.9 * len(rows)


def test_weighted_jaccard_bounds_and_coverage(spark, sf_dir):
    """0 < wj <= 1, inter <= union, exact double = inter/union, and every
    source pair that shares vocabulary appears with source_a < source_b."""
    rows = E.q_weighted_jaccard_sources(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.source_a < r.source_b
        assert 0 < r.inter_w <= r.union_w
        assert r.weighted_jaccard == r.inter_w / r.union_w
        assert 0.0 < r.weighted_jaccard <= 1.0


def test_doc_chunk_plan_matches_python_recompute(spark, sf_dir):
    """Per-source totals equal a pure-Python recompute over the same BPE
    token counts (the int-ceil and padding algebra, independently)."""
    from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
        bpe_token_estimate,
    )
    import pyspark.sql.functions as F

    docs = load_table(spark, "documents", sf_dir).select(
        "source", bpe_token_estimate(F.col("text")).alias("t")
    )
    S, O = E._CHUNK_SIZE, E._CHUNK_OVERLAP
    stride = S - O
    want: dict[str, list[int]] = {}
    for row in docs.collect():
        t = int(row.t)
        n = 1 if t <= S else 1 + -(-(t - S) // stride)
        pad = n * S - (n - 1) * O - t
        agg = want.setdefault(row.source, [0, 0, 0, 0])
        agg[0] += 1
        agg[1] += t
        agg[2] += n
        agg[3] += pad
    got = {r.source: r for r in E.q_doc_chunk_plan(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for s, (nd, tt, tc, tp) in want.items():
        r = got[s]
        assert (r.n_docs, r.total_tokens, r.total_chunks, r.total_pad) == (
            nd,
            tt,
            tc,
            tp,
        )
        assert r.total_pad >= 0
        assert r.pad_frac == tp / (tt + tp)


def test_token_gini_matches_textbook_rank_formula(spark, sf_dir):
    """The rank-eliminated block formulation equals the textbook
    sum-of-rank-times-count Gini, recomputed in Python per source."""
    import pyspark.sql.functions as F
    from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
        tokenize,
    )

    docs = load_table(spark, "documents", sf_dir).select("source", "text")
    tc = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .count()
        .collect()
    )
    per_src: dict[str, list[int]] = {}
    for row in tc:
        per_src.setdefault(row.source, []).append(int(row["count"]))
    got = {r.source: r for r in E.q_token_gini_by_source(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for s, counts in per_src.items():
        counts.sort()
        n = len(counts)
        tot = sum(counts)
        s_ic = sum((i + 1) * c for i, c in enumerate(counts))
        r = got[s]
        assert (r.n_vocab, r.total_tokens, r.s_ic) == (n, tot, s_ic)
        gini = (2 * s_ic - (n + 1) * tot) / (n * tot)
        assert r.gini == gini
        assert 0.0 <= r.gini < 1.0


def test_source_bigram_cosine_bounds_and_self_consistency(spark, sf_dir):
    """cosine in (0, 1]; numerator positive only for pairs sharing at
    least one bigram; cosine equals num/sqrt(ssa)/sqrt(ssb) recomputed
    from per-source sum-of-squares."""
    import pyspark.sql.functions as F
    from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
        tokenize,
    )

    rows = E.q_source_bigram_cosine(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, "documents", sf_dir).select("source", "text")
    toks = tokenize(F.col("text"))
    nsz = F.size(toks)
    grams = F.when(nsz < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), nsz - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        )
    )
    ss = {
        r.source: r.ss
        for r in docs.select("source", F.explode(grams).alias("g"))
        .groupBy("source", "g")
        .count()
        .groupBy("source")
        .agg(F.sum(F.col("count") * F.col("count")).alias("ss"))
        .collect()
    }
    for r in rows:
        assert r.source_a < r.source_b
        assert r.num > 0
        expect = r.num / (math.sqrt(ss[r.source_a]) * math.sqrt(ss[r.source_b]))
        assert r.cosine == pytest.approx(expect, rel=1e-12)
        assert 0.0 < r.cosine <= 1.0


def test_eval_train_contamination_detects_planted_twins(spark, sf_dir):
    """Every eval doc has a planted prefix-truncated train twin; the LSH
    detector must flag the overwhelming majority (all, at test SFs — a
    miss requires the twin's shingle set to fall under the Jaccard
    threshold or an empty mutated text). Rate algebra is exact."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        q_eval_train_contamination,
    )

    rows = q_eval_train_contamination(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_eval
        assert r.n_leak_pairs >= r.n_contaminated
        assert r.contamination_rate == r.n_contaminated / r.n_eval
    tot_e = sum(r.n_eval for r in rows)
    tot_c = sum(r.n_contaminated for r in rows)
    assert tot_c >= 0.8 * tot_e, (
        f"planted-twin recall collapsed: {tot_c}/{tot_e} eval docs flagged"
    )


def test_prefix_containment_catches_planted_truncations(spark, sf_dir):
    """Every planted 60%-truncation is a strict prefix of its original
    and (being >= 24 chars at test SFs) shares its bucket, so with no
    dropped buckets the contained count must cover at least the plant
    count; census columns are internally consistent."""
    rows = E.q_prefix_containment_dups(spark, sf_dir).collect()
    assert rows
    n_orig = load_table(spark, "documents", sf_dir).count()
    assert sum(r.n_docs for r in rows) == 2 * n_orig
    for r in rows:
        assert 0 <= r.n_contained <= r.n_docs
        assert r.n_pairs >= r.n_contained
        assert r.n_dropped_buckets == rows[0].n_dropped_buckets  # global col
    if rows[0].n_dropped_buckets == 0:
        assert sum(r.n_contained for r in rows) >= n_orig


def test_minhash_threshold_sweep_monotone(spark, sf_dir):
    """Cumulative operating curve: pair and doc counts are non-increasing
    in the threshold, every count is consistent (n_docs <= 2*n_pairs),
    and the registered production threshold's row agrees with the
    standalone minhash query's pair count."""
    rows = sorted(
        E.q_minhash_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == sorted(E._SWEEP_THRESHOLDS)
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs >= b.n_docs
    for r in rows:
        assert 0 < r.n_docs <= 2 * r.n_pairs
    at_prod = next(r for r in rows if r.threshold == E._MH_THRESHOLD)
    n_registered = E.q_minhash_lsh(spark, sf_dir).count()
    assert at_prod.n_pairs == n_registered


def test_shard_balance_audit_partitions_the_corpus(spark, sf_dir):
    """Shards partition the corpus exactly: doc counts sum to N, token
    skews average to 1, every shard id is in range."""
    rows = E.q_shard_balance_audit(spark, sf_dir).collect()
    n_docs = load_table(spark, "documents", sf_dir).count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.shard < E._SHARD_N for r in rows)
    total = sum(r.n_tokens for r in rows)
    for r in rows:
        assert r.skew == r.n_tokens * E._SHARD_N / total
    assert abs(sum(r.skew for r in rows) / len(rows) - E._SHARD_N / len(rows)) < 1e-9


def test_dedup_recall_matrix_shape(spark, sf_dir):
    """The theory-predicted support pattern: exact catches ONLY verbatim
    (recall 1); bag-of-words exactly {verbatim, token_reversed} at 1;
    prefix-containment exactly {prefix_truncated} at 1 (verbatim is not
    a STRICT prefix); minhash misses token_reversed entirely (3-gram
    shingles break) but catches verbatim at 1 and most head_dropped."""
    rows = E.q_dedup_recall_matrix(spark, sf_dir).collect()
    got = {(r.modality, r.plant_kind): r for r in rows}
    kinds = {k for k, _ in E._RECALL_PLANTS}
    # the substring_span modality/plant pair has its own support
    # story pinned in tests/test_span_dedup.py
    assert set(got) == {
        (m, k)
        for m in (
            "exact",
            "bag_of_words",
            "prefix_containment",
            "minhash_lsh",
            "substring_span",
        )
        for k in kinds
    }
    n = got[("exact", "verbatim")].n_planted
    for r in rows:
        assert r.n_planted == n
        assert 0 <= r.n_caught <= n
        assert r.recall == r.n_caught / n
    assert got[("exact", "verbatim")].recall == 1.0
    assert got[("exact", "token_reversed")].n_caught == 0
    assert got[("exact", "prefix_truncated")].n_caught == 0
    assert got[("bag_of_words", "verbatim")].recall == 1.0
    assert got[("bag_of_words", "token_reversed")].recall == 1.0
    assert got[("bag_of_words", "prefix_truncated")].n_caught == 0
    assert got[("prefix_containment", "prefix_truncated")].recall == 1.0
    assert got[("prefix_containment", "verbatim")].n_caught == 0
    assert got[("minhash_lsh", "verbatim")].recall == 1.0
    assert got[("minhash_lsh", "token_reversed")].n_caught == 0
    assert got[("minhash_lsh", "head_dropped")].recall >= 0.9


# ---------------------------------------------------------------------------
# Pure-math property pins (hypothesis): the algebra the Spark plans encode,
# checked against brute force on inputs the parquet fixture can't hit.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


class TestChunkPlanAlgebra:
    S, O = 512, 64
    STRIDE = S - O

    def _n_chunks(self, t: int) -> int:
        if t <= self.S:
            return 1
        return 1 + (t - self.S + self.STRIDE - 1) // self.STRIDE

    @given(st.integers(min_value=0, max_value=10_000_000))
    @settings(max_examples=300, deadline=None)
    def test_chunks_cover_and_padding_nonnegative(self, t):
        """n chunks of size S with O overlap cover exactly t tokens with
        pad >= 0, and n-1 chunks would NOT cover (minimality)."""
        n = self._n_chunks(t)
        capacity = n * self.S - (n - 1) * self.O
        assert capacity >= t, "chunks do not cover the document"
        pad = capacity - t
        assert 0 <= pad
        if n > 1:
            prev_capacity = (n - 1) * self.S - (n - 2) * self.O
            assert prev_capacity < t, "one fewer chunk would already cover"
        assert pad < self.STRIDE or n == 1, (
            "padding >= stride means the last chunk was unnecessary"
        )


class TestGiniRankElimination:
    @given(
        st.lists(
            st.integers(min_value=1, max_value=10_000), min_size=1, max_size=60
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_block_formula_equals_rank_formula(self, counts):
        """sum(i * c_i) over ascending ranks == sum over equal-count
        blocks of c * (k*B + k(k+1)/2) — the identity that lets the
        Spark plan window over distinct count VALUES instead of every
        token (tie order inside a block provably cannot matter)."""
        counts.sort()
        s_rank = sum((i + 1) * c for i, c in enumerate(counts))
        from collections import Counter

        blocks = sorted(Counter(counts).items())
        b = 0
        s_block = 0
        for c, k in blocks:
            s_block += c * (k * b + k * (k + 1) // 2)
            b += k
        assert s_block == s_rank

    @given(
        st.lists(
            st.integers(min_value=1, max_value=1000), min_size=2, max_size=50
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_gini_bounds_and_invariance(self, counts):
        """Gini in [0, 1); 0 exactly for uniform counts; permutation of
        the input cannot change it (the sort is part of the formula)."""
        n, tot = len(counts), sum(counts)
        asc = sorted(counts)
        s_ic = sum((i + 1) * c for i, c in enumerate(asc))
        gini = (2 * s_ic - (n + 1) * tot) / (n * tot)
        assert 0.0 <= gini < 1.0
        if len(set(counts)) == 1:
            assert gini == 0.0
        import random

        shuffled = counts[:]
        random.Random(42).shuffle(shuffled)
        asc2 = sorted(shuffled)
        s2 = sum((i + 1) * c for i, c in enumerate(asc2))
        assert (2 * s2 - (n + 1) * tot) / (n * tot) == gini


class TestWeightedJaccardAlgebra:
    @given(
        st.dictionaries(
            st.integers(min_value=0, max_value=50),
            st.tuples(st.booleans(), st.booleans()),
            min_size=1,
            max_size=50,
        ),
        st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def test_reduces_to_plain_jaccard_on_unit_weights(self, tokens, data):
        """With every token weight 1, weighted Jaccard == |A∩B|/|A∪B|;
        with idf-style weights it equals sum-min/sum-max over indicator
        vectors (the closed form the one-aggregation plan relies on)."""
        w = {
            t: data.draw(st.integers(min_value=1, max_value=100))
            for t in tokens
        }
        a = {t for t, (ina, _inb) in tokens.items() if ina}
        bset = {t for t, (_ina, inb) in tokens.items() if inb}
        if not (a | bset):
            return
        inter_w = sum(w[t] for t in a & bset)
        union_w = sum(w[t] for t in a | bset)
        # sum-min / sum-max over weighted indicator vectors
        smin = sum(min(w[t] * (t in a), w[t] * (t in bset)) for t in w)
        smax = sum(max(w[t] * (t in a), w[t] * (t in bset)) for t in w)
        assert inter_w == smin and union_w == smax
        if a | bset:
            unit_inter = len(a & bset)
            unit_union = len(a | bset)
            if all(v == 1 for v in w.values()):
                assert inter_w == unit_inter and union_w == unit_union


def test_repetition_plan_quantization_bounds(spark, sf_dir):
    """The greedy prefix never overshoots: planned_chars <= alloc_chars,
    the unfilled gap is smaller than the largest unselected document of
    the source (greedy maximality), and realized epochs never exceed
    the UniMax epoch cap."""
    from spark_streaming_invoice_anomaly_detection_spark.plans import (
        selection as SEL,
    )

    ua = {
        r.source: r
        for r in SEL.q_unimax_allocation(spark, sf_dir).collect()
    }
    rows = SEL.q_repetition_plan(spark, sf_dir).collect()
    assert {r.source for r in rows} == set(ua)
    for r in rows:
        u = ua[r.source]
        assert r.planned_chars == r.full_epochs * u.size_chars + r.extra_chars
        assert r.planned_chars <= u.alloc_chars
        assert 0 <= r.unfilled_chars
        assert r.realized_epochs == r.planned_chars / u.size_chars
        assert r.realized_epochs <= SEL._UNIMAX_EPOCH_CAP + 1e-12
        assert 0 <= r.n_extra_docs <= r.n_docs
