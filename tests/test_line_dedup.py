"""Semantic pins for repeated-line boilerplate dedup (CCNet
arXiv:1911.00359 / RefinedWeb arXiv:2306.01116): the token_lines
decomposition contract, the census arithmetic, and the planted
header/footer carrier counts the DuckDB hash oracle proves equal but
cannot explain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators import dedup as D
from spark_streaming_invoice_anomaly_detection_spark.plans import extensions as E


def _lines_of(spark, texts, width=3):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    col = D.token_lines(F.col("text"), width=width)
    return [r.l for r in df.select(col.alias("l")).orderBy("id").collect()]


def test_token_lines_decomposition(spark):
    """Exhaustive fixed-width chunking: every token lands in exactly one
    line, in order, with a ragged tail — joining the lines back with a
    space reproduces the token stream."""
    full, ragged, short, empty = _lines_of(
        spark,
        [
            "a b c d e f",  # exact multiple of width
            "a b c d e f g",  # ragged 1-token tail
            "a b",  # shorter than one line
            "",  # no tokens
        ],
    )
    assert full == ["a b c", "d e f"]
    assert ragged == ["a b c", "d e f", "g"]
    assert short == ["a b"]
    assert empty == []
    for lines, text in [(full, "a b c d e f"), (ragged, "a b c d e f g")]:
        assert " ".join(lines) == text


def test_token_lines_param_validation():
    with pytest.raises(ValueError):
        D.token_lines(F.col("t"), width=0)


def test_planted_lines_survive_tokenization(spark):
    """The planted boilerplate strings must round-trip the tokenizer
    verbatim (lowercase ASCII words only), or the plant would hash
    differently from the body lines it is compared against — and both
    must clear the short-line guard."""
    for s in (E._LINE_HEADER, E._LINE_FOOTER):
        (lines,) = _lines_of(spark, [s], width=100)
        assert lines == [s]
        assert len(s.split(" ")) >= E._LINE_MIN_TOK


def test_repeated_line_census_arithmetic(spark, sf_dir):
    """Census internal consistency + the planted structure: the header
    (every 7th doc) and footer (every 9th) moduli are coprime to the
    corpus's source stride (source = doc_id % 20), so EVERY source must
    see carriers, and fractions must be exact ratios of the counted
    columns."""
    rows = E.q_repeated_line_census(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_docs > 0
        assert 0 <= r.boiler_docs <= r.n_docs
        assert 0 <= r.n_boiler_lines <= r.n_lines
        assert r.boiler_frac == pytest.approx(
            r.n_boiler_lines / r.n_lines if r.n_lines else 0.0
        )
        # CRT floor: among n_docs ids in an arithmetic progression with
        # step 20, multiples of 7 appear every 7 terms
        assert r.boiler_docs >= r.n_docs // E._LINE_HDR_MOD


def test_top_repeated_lines_planted_carriers(spark, sf_dir):
    """The planted header (every 7th doc) and footer (every 9th) head the
    strip-list with EXACT carrier counts; ordering contract holds."""
    import spark_streaming_invoice_anomaly_detection_spark.sources.catalog as cat

    rows = E.q_top_repeated_lines(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    doc_ids = [
        r.doc_id
        for r in cat.load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .collect()
    ]
    hdr_docs = sum(1 for i in doc_ids if i % E._LINE_HDR_MOD == 0)
    ftr_docs = sum(1 for i in doc_ids if i % E._LINE_FTR_MOD == 0)
    by_line = {r.line: r for r in rows}
    assert E._LINE_HEADER in by_line and E._LINE_FOOTER in by_line
    assert by_line[E._LINE_HEADER].n_docs == hdr_docs
    assert by_line[E._LINE_HEADER].n_occ == hdr_docs
    assert by_line[E._LINE_FOOTER].n_docs == ftr_docs
    assert by_line[E._LINE_FOOTER].n_occ == ftr_docs
    assert rows[0].line == E._LINE_HEADER
    keys = [(-r.n_docs, -r.n_occ, r.line_hash) for r in rows]
    assert keys == sorted(keys)
    # short-line guard: nothing below the token floor reaches the report
    assert all(len(r.line.split(" ")) >= E._LINE_MIN_TOK for r in rows)


def test_cleaning_plan_consistency_and_census_agreement(spark, sf_dir):
    """Cleaning plan internal arithmetic + cross-query agreement: the
    plan's n_lines / n_docs columns must equal the census's (same
    decomposition, same corpus), stripped mass must be bounded by the
    census's boilerplate occurrence count per source (the census counts
    the SAME strip condition), and the retained fraction is the exact
    ratio of the counted columns."""
    plan = {r.source: r for r in
            E.q_line_dedup_cleaning_plan(spark, sf_dir).collect()}
    census = {r.source: r for r in
              E.q_repeated_line_census(spark, sf_dir).collect()}
    assert set(plan) == set(census) and len(plan) == 20
    for s, p in plan.items():
        c = census[s]
        assert (p.n_docs, p.n_lines) == (c.n_docs, c.n_lines)
        assert p.n_stripped_lines == c.n_boiler_lines
        assert 0 <= p.kept_docs <= p.n_docs
        assert 0 <= p.chars_kept <= p.chars_total
        assert p.retained_frac == pytest.approx(
            p.chars_kept / p.chars_total if p.chars_total else 0.0
        )


def test_cleaning_is_idempotent(spark, sf_dir):
    """Strip-all-copies semantics makes cleaning a fixpoint after one
    pass: every RETAINED line is unique to its document (or below the
    token guard), so a second pass would strip nothing. Verified on the
    actual retained occurrence set, not on aggregates."""
    occ = E._lined_docs(spark, sf_dir).select(
        "doc_id", F.explode("lines").alias("line")
    ).select(
        "doc_id",
        F.xxhash64("line").alias("lh"),  # any exact hash works here
        F.size(F.split(F.col("line"), " ")).alias("tok"),
    )
    per_line = occ.groupBy("lh").agg(
        F.count_distinct("doc_id").alias("docs")
    )
    retained = occ.join(per_line, "lh").filter(
        ~((F.col("docs") >= 2) & (F.col("tok") >= E._LINE_MIN_TOK))
    )
    second_pass = (
        retained.groupBy("lh")
        .agg(
            F.count_distinct("doc_id").alias("docs2"),
            F.min("tok").alias("tok"),
        )
        .filter((F.col("docs2") >= 2) & (F.col("tok") >= E._LINE_MIN_TOK))
        .count()
    )
    assert second_pass == 0
