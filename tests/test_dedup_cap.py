"""The LSH bucket cap's bounded-recall contract (the file
operators/dedup.py:lsh_candidate_pairs cites).

``max_bucket`` drops band buckets larger than the cap. The docstring's
claim — a genuine near-dup pair (Jaccard >= threshold, NOT
byte-identical) inside an oversized bucket is silently dropped, and
exact_dedup's sha256 pass does NOT recover it — is pinned here with a
planted mega-cluster constructed to hit the hole deterministically:

the cluster's docs differ ONLY in letter case, so they are byte-distinct
(every sha256 differs -> exact_dedup groups nothing) yet tokenize
case-folds (operators/text.py:tokenize) -> identical shingle sets ->
identical MinHash signatures -> the SAME bucket in EVERY band. With a
cap below the cluster size there is no <=cap bucket anywhere that could
re-surface the pairs: recall loss is total for the cluster, not
probabilistic. No randomness anywhere — seeded hashes over fixed
strings — so every assertion is exact.

Also pinned: the capped output is a strict subset of the uncapped one, a
small-bucket near-dup pair SURVIVES the cap, and lsh_oversized_buckets
reports exactly the dropped buckets (the observability half the
bounded-recall posture depends on at scale).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators import dedup as D

NGRAM = 3
NUM_HASHES = 8
BANDS = 4
CAP = 3

#: 6 byte-distinct casings of one sentence: Jaccard 1.0 after
#: case-folding, pairwise non-equal bytes.
_MEGA_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_MEGA = [
    _MEGA_BASE,
    _MEGA_BASE.upper(),
    _MEGA_BASE.title(),
    _MEGA_BASE.capitalize(),
    _MEGA_BASE.replace("beta", "BETA"),
    _MEGA_BASE.replace("kappa", "KAPPA"),
]

#: A genuine small-cluster near-dup pair (one word differs out of ten:
#: 3-gram Jaccard 5/11 with threshold set below that) that must SURVIVE
#: the cap, plus unrelated singleton docs.
_SMALL_PAIR = [
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed quia",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed quod",
]
_SINGLETONS = [
    "the quick brown fox jumps over the lazy dog tonight",
    "pack my box with five dozen liquor jugs again today",
    "sphinx of black quartz judge my vow once more now",
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, t) for i, t in enumerate(_MEGA + _SMALL_PAIR + _SINGLETONS)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(scope="module")
def signed(corpus):
    shingled = D.shingle_docs(corpus, "text", "doc_id", NGRAM)
    return shingled.select(
        "doc_id",
        D.minhash_signature(F.col("shingles"), NUM_HASHES).alias("signature"),
    ).cache()


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


_MEGA_IDS = set(range(len(_MEGA)))
_MEGA_PAIRS = {
    (a, b) for a in _MEGA_IDS for b in _MEGA_IDS if a < b
}
_SMALL_IDS = (len(_MEGA), len(_MEGA) + 1)


def test_planted_cluster_is_byte_distinct_but_shingle_identical(
    spark, corpus, signed
):
    """The construction the whole file rests on: every mega doc hashes
    to a DIFFERENT sha256 (exact_dedup sees 6 singletons) while all six
    share ONE shingle set and therefore one signature."""
    hashes = (
        corpus.filter(F.col("doc_id").isin(*_MEGA_IDS))
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .count()
    )
    assert hashes == len(_MEGA)
    sigs = (
        signed.filter(F.col("doc_id").isin(*_MEGA_IDS))
        .select("signature")
        .distinct()
        .count()
    )
    assert sigs == 1


def test_cap_drops_exactly_the_mega_cluster_pairs(signed):
    """Uncapped finds the 15 mega pairs + the small pair; cap=3 keeps
    the small pair and drops ALL 15 (the cluster co-buckets in every
    band, so no <=cap bucket can re-surface any of its pairs)."""
    uncapped = _pairs(
        D.lsh_candidate_pairs(signed, NUM_HASHES, BANDS, max_bucket=None)
    )
    capped = _pairs(
        D.lsh_candidate_pairs(signed, NUM_HASHES, BANDS, max_bucket=CAP)
    )
    assert _MEGA_PAIRS <= uncapped
    assert _SMALL_IDS in uncapped, "small near-dup pair must co-bucket"
    assert capped <= uncapped, "cap may only remove candidates"
    assert _SMALL_IDS in capped, "<=cap bucket must survive"
    assert capped & _MEGA_PAIRS == set(), "every mega pair is dropped"
    assert uncapped - capped == _MEGA_PAIRS


def test_exact_dedup_does_not_recover_dropped_pairs(corpus):
    """The documented recall hole: the dropped pairs are near-identical
    (Jaccard 1.0) but NOT byte-identical, so the sha256 pass groups
    none of them — each mega doc stays its own canonical group."""
    groups = D.exact_dedup(corpus, "text", "doc_id")
    mega = groups.filter(F.col("doc_id").isin(*_MEGA_IDS)).collect()
    assert len(mega) == len(_MEGA)
    for row in mega:
        assert row.group_size == 1, (
            f"doc {row.doc_id} exact-grouped — planted cluster must be "
            "byte-distinct"
        )


def test_end_to_end_near_dups_lose_the_cluster_under_cap(corpus):
    """Through the full pipeline (verify stage included): the dropped
    pairs pass the Jaccard threshold uncapped (1.0) and vanish capped."""
    kw = dict(
        text_col="text", id_col="doc_id", ngram=NGRAM,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=0.99,
    )
    uncapped = _pairs(D.minhash_near_dups(corpus, **kw, max_bucket=None))
    capped = _pairs(D.minhash_near_dups(corpus, **kw, max_bucket=CAP))
    assert uncapped >= _MEGA_PAIRS
    assert capped & _MEGA_PAIRS == set()


def test_oversized_report_matches_dropped_buckets_exactly(signed):
    """lsh_oversized_buckets must report precisely the buckets the cap
    drops — recomputed independently from band_entries — and every
    dropped bucket must contain the whole mega cluster (which is how a
    downstream exact/sampled pass would recover the loss)."""
    entries = D.band_entries(signed, NUM_HASHES, BANDS)
    expected = {
        (r.band_id, r.band_hash, r.n)
        for r in entries.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > CAP)
        .collect()
    }
    reported = {
        (r.band_id, r.band_hash, r.bucket_size)
        for r in D.lsh_oversized_buckets(
            signed, NUM_HASHES, BANDS, max_bucket=CAP
        ).collect()
    }
    assert reported == expected
    assert len(reported) == BANDS, (
        "the shingle-identical cluster must oversize exactly one bucket "
        "per band"
    )
    # joining the report back through band_entries recovers the members
    oversized_keys = {(b, h) for b, h, _n in reported}
    members = {
        frozenset(
            r.doc_id
            for r in entries.filter(
                (F.col("band_id") == b) & (F.col("band_hash") == h)
            ).collect()
        )
        for b, h in oversized_keys
    }
    assert members == {frozenset(_MEGA_IDS)}
