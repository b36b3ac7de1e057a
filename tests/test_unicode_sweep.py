"""Multibyte sweep: every documents-reading oracle on non-ASCII text.

arrow_text_stats once compared utf8 codepoints on one side and bytes on
the other; this is the general close-out: inject genuinely adversarial Unicode (CJK, emoji + ZWJ,
combining accents, Cyrillic/Greek, RTL scripts, case-collation traps,
multibyte duplicate pairs) into the documents fixture and drive EVERY
registered oracle that reads the table through the full driver-style
comparison. A byte-vs-codepoint or locale-collation assumption on either
engine's side of any text oracle fails here before it fails a grading
run.
"""

from __future__ import annotations

import os
import shutil

import pytest

from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
    REGISTRY,
    queries,
)
from spark_streaming_invoice_anomaly_detection_spark.schemas import TESTDATA_TABLES

from .oracle import assert_matches_oracle, duckdb_con

queries()  # force registry load

#: Adversarial rows appended to documents.parquet. Each (text, lang,
#: source); doc_id continues after the fixture's max, n_chars is the
#: CODEPOINT length (matching the generator's n_chars == length(text)
#: invariant, verified in the fixture builder below).
UNICODE_DOCS = [
    # CJK — 3-byte UTF-8 codepoints, whitespace-separated tokens
    ("日本語 テキスト 形態素 解析 データ 処理 分散 結合", "zh", "src0"),
    # emoji + ZWJ family sequence — 4-byte codepoints and grapheme traps
    ("emoji test 🎉🚀 family 👨‍👩‍👧‍👦 done", "en", "src1"),
    # accented latin, precomposed + COMBINING accent + ligature
    ("café résumé naïve résumé ﬁlter ligature", "fr", "src2"),
    # Cyrillic + Greek
    ("данные поток система анализ αβγ δεδομένα ροή", "es", "src3"),
    # RTL Arabic + Hebrew
    ("بيانات تدفق نظام معالجة עיבוד נתונים זרם", "de", "src4"),
    # case/locale collation traps (dotless i, sharp s, umlauts)
    ("Ärger ärger ZÜRICH zürich İstanbul ıstanbul straße STRASSE", "de", "src5"),
    # exact multibyte duplicate pair -> flows through the dedup family
    ("重复 文档 检测 重复 文档 检测 完全 一致", "zh", "src6"),
    ("重复 文档 检测 重复 文档 检测 完全 一致", "zh", "src7"),
]

SWEEP_NAMES = sorted(
    n
    for n, s in REGISTRY.items()
    if s.oracle is not None and "documents" in s.oracle
)


@pytest.fixture(scope="module")
def uni_sf_dir(tmp_path_factory, sf_dir):
    """sf_dir clone whose documents table carries the multibyte rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("uni_sf"))
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t != "documents":
            shutil.copy(src, os.path.join(out, f"{t}.parquet"))
            continue
        base = pq.read_table(src)
        next_id = pa.compute.max(base["doc_id"]).as_py() + 1
        extra = pa.table(
            {
                "doc_id": pa.array(
                    [next_id + i for i in range(len(UNICODE_DOCS))],
                    type=base.schema.field("doc_id").type,
                ),
                "text": pa.array(
                    [d[0] for d in UNICODE_DOCS],
                    type=base.schema.field("text").type,
                ),
                "lang": pa.array(
                    [d[1] for d in UNICODE_DOCS],
                    type=base.schema.field("lang").type,
                ),
                "source": pa.array(
                    [d[2] for d in UNICODE_DOCS],
                    type=base.schema.field("source").type,
                ),
                "n_chars": pa.array(
                    [len(d[0]) for d in UNICODE_DOCS],
                    type=base.schema.field("n_chars").type,
                ),
            }
        ).select(base.schema.names)
        pq.write_table(
            pa.concat_tables([base, extra]), os.path.join(out, f"{t}.parquet")
        )
    return out


@pytest.fixture(scope="module")
def uni_con(uni_sf_dir):
    c = duckdb_con(uni_sf_dir)
    yield c
    c.close()


def test_sweep_covers_the_text_family():
    """The sweep is derived (every oracle whose SQL reads documents), so a
    new text query is swept automatically; pin a floor so a refactor that
    renames the table doesn't silently empty the sweep."""
    assert len(SWEEP_NAMES) >= 45
    for must in (
        "arrow_text_stats",
        "token_count_bpe",
        "text_lang_id",
        "exact_dedup_groups",
        "minhash_lsh_neardups",
        "doc_fingerprint",
    ):
        assert must in SWEEP_NAMES


@pytest.mark.parametrize("name", SWEEP_NAMES)
def test_oracle_survives_multibyte_text(spark, uni_sf_dir, uni_con, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, uni_sf_dir)
    assert_matches_oracle(df, uni_con, spec.oracle, name=name)
