"""Semantic pins for span-level exact-substring dedup (Lee et al.
2022 arXiv:2107.06499): the content-anchoring invariant (sampled spans
depend only on local content, never on position), the census arithmetic,
and the recall-matrix modality story the DuckDB hash oracle proves equal
but cannot explain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators import dedup as D
from spark_streaming_invoice_anomaly_detection_spark.plans import extensions as E


def _spans_of(spark, texts, window=4, anchor=2, mod=2):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    col = D.sampled_spans(F.col("text"), window=window, anchor=anchor, mod=mod)
    return [r.s for r in df.select(col.alias("s")).orderBy("id").collect()]


def test_sampled_spans_content_anchored_alignment_free(spark):
    """THE invariant that makes the operator work at all: a verbatim
    token run embedded at DIFFERENT offsets inside different contexts
    yields the same sampled spans for its interior windows — the
    sampling decision hashes the anchor gram, never the position."""
    core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    a, b = _spans_of(
        spark,
        [f"one two {core} x y z", f"p q r s t u v w {core}"],
    )
    core_only = set(_spans_of(spark, [core])[0])
    assert core_only, "core run must produce at least one sampled span"
    # every sampled span of the bare core appears in BOTH embeddings
    assert core_only <= set(a)
    assert core_only <= set(b)


def test_sampled_spans_edges_and_determinism(spark):
    short, empty, dup = _spans_of(
        spark,
        [
            "a b c",  # fewer than window tokens
            "",  # no tokens at all
            "a b c d a b c d a b c d",  # self-repetition: dup entries kept
        ],
    )
    assert short == [] and empty == []
    # duplicates preserved (multiset semantics for self-repetition census):
    # the text has period 4, so every sampled window content recurs
    assert dup == [] or len(dup) > len(set(dup))
    # deterministic across invocations
    again = _spans_of(spark, ["a b c d a b c d a b c d"])[0]
    assert again == dup


def test_sampled_spans_mod1_is_exhaustive(spark):
    """mod=1 samples every full window: stride-1 fingerprinting."""
    text = "w1 w2 w3 w4 w5 w6 w7"
    (spans,) = _spans_of(spark, [text], window=3, anchor=2, mod=1)
    toks = text.split()
    assert spans == [
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    ]


def test_sampled_spans_param_validation():
    with pytest.raises(ValueError):
        D.sampled_spans(F.col("t"), window=3, anchor=4)
    with pytest.raises(ValueError):
        D.sampled_spans(F.col("t"), mod=0)


def test_substring_census_arithmetic(spark, sf_dir):
    """Census internal consistency + the planted structure: every source
    has 2N docs (base + head-dropped copies), dup fractions in (0, 1],
    and the boilerplate + copy plants guarantee dup spans everywhere."""
    rows = E.q_substring_dup_census(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_docs % 2 == 0 and r.n_docs > 0
        assert 0 <= r.dup_docs <= r.n_docs
        assert 0 <= r.n_dup_spans <= r.n_spans
        assert r.dup_span_frac == pytest.approx(
            r.n_dup_spans / r.n_spans if r.n_spans else 0.0
        )
        # head-dropped copies share nearly all spans with their base:
        # the census must see substantial duplication in every source
        assert r.dup_docs >= 0.5 * r.n_docs
        assert r.n_dup_spans >= 0.5 * r.n_spans


def test_top_repeated_spans_is_boilerplate_report(spark, sf_dir):
    """The planted 21-token license header dominates the top list: its
    interior windows are shared by every doc_id%5==0 doc (base AND copy),
    so the top rows' n_docs must reach 20% of the corpus and their spans
    must be header substrings."""
    rows = E.q_top_repeated_spans(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    top = rows[0]
    assert top.span in E._SPAN_HEADER
    # every 5th doc of the 2N corpus carries the header
    import spark_streaming_invoice_anomaly_detection_spark.sources.catalog as cat

    n_docs = cat.load_table(spark, "documents", sf_dir).count()
    expected_carriers = len(
        [i for i in range(n_docs) if i % 5 == 0]
    ) * 2  # base + copy (offset preserves doc_id % 5)
    assert top.n_docs == expected_carriers
    # ordering contract: (n_docs desc, n_occ desc, span_hash asc)
    keys = [(-r.n_docs, -r.n_occ, r.span_hash) for r in rows]
    assert keys == sorted(keys)


def test_recall_matrix_span_modality_story(spark, sf_dir):
    """The mid_spliced row and substring_span column: mid_spliced is caught ONLY by substring_span
    (all four doc-level detectors at exactly 0), and substring_span also
    sees verbatim/truncation/head-drop plants at high recall while
    staying 0 on reorderings (no verbatim window survives a reversal)."""
    rows = E.q_dedup_recall_matrix(spark, sf_dir).collect()
    recall = {(r.modality, r.plant_kind): r.recall for r in rows}
    assert len(rows) == 25  # 5 modalities x 5 plants
    for m in ("exact", "bag_of_words", "prefix_containment", "minhash_lsh"):
        assert recall[(m, "mid_spliced")] == 0.0
    assert recall[("substring_span", "mid_spliced")] > 0.5
    assert recall[("substring_span", "verbatim")] > 0.9
    assert recall[("substring_span", "head_dropped")] > 0.9
    assert recall[("substring_span", "prefix_truncated")] > 0.9
    assert recall[("substring_span", "token_reversed")] == 0.0
