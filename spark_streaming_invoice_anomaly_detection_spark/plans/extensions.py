"""LLM-data-pipeline extension queries (SURVEY.md §7 Phase 4).

Every operator family gets a driver-checked entry. The documents corpus has
no natural duplicates, so dedup queries AUGMENT the input inside the query
(a deterministic mutated copy of each doc — id+1_000_000, prefix-truncated
text / scaled vector) on BOTH the Spark and oracle side: the planted pairs
make the candidate-generation + verification path actually fire, and the
check stays an exact equality.

Hash-derived operators (minhash/simhash/fingerprint) are bit-for-bit
reproducible in DuckDB via the shared md5-based h60 primitive; embedding
cosines proved bit-identical to DuckDB's list_dot_product (verified over
12k pairs), so even floating similarity values are compared raw.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.fplog2 import fp_log2, fp_log2_sql
from ..operators import cleaning as C
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import similarity as S
from ..operators import text as X
from ..operators.layout import spread_if_narrow
from ..operators.text import h60_sql
from ..sources.catalog import load_table
from .registry import QuerySpec, register

_AUG_OFFSET = 1_000_000

# ---------------------------------------------------------------------------
# Shared augmented inputs (Spark + SQL twins)
# ---------------------------------------------------------------------------


def _augmented_docs(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """documents UNION mutated copies: id+1e6, first 20 chars dropped.
    ``sample_mod`` keeps only ``doc_id % sample_mod == 0`` BEFORE the
    augmentation — the APSS-slice pattern for routine-cadence runs of
    the audit queries (the planted pair structure survives because both
    sides of a plant share the base doc_id)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    if sample_mod is not None:
        docs = docs.filter(F.col("doc_id") % sample_mod == 0)
    mutated = docs.select(
        (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
        F.substring(F.col("text"), 21, 1_000_000).alias("text"),
        F.col("lang"),
    )
    return docs.unionByName(mutated)


def _aug_docs_sql(sample_mod: int | None = None) -> str:
    """SQL twin of :func:`_augmented_docs` (same optional slice)."""
    where = (
        f" WHERE doc_id % {sample_mod} = 0" if sample_mod is not None else ""
    )
    return f"""
    SELECT doc_id, text, lang FROM documents{where}
    UNION ALL
    SELECT doc_id + {_AUG_OFFSET} AS doc_id,
           substring(text, 21, 1000000) AS text, lang
    FROM documents{where}
"""


_AUG_DOCS_SQL = _aug_docs_sql()


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings UNION scaled copies (same direction => cosine 1)."""
    emb = load_table(spark, "embeddings", sf_dir)
    mutated = emb.select(
        (F.col("vec_id") + _AUG_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") * F.lit(1.5))
        ).alias("embedding"),
        F.col("label"),
    )
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )
    return base.unionByName(mutated)


_AUG_EMB_SQL = f"""
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + {_AUG_OFFSET} AS vec_id,
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5) AS embedding,
           label
    FROM embeddings
"""

_TOKENS_SQL = (
    "regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[A-Za-z0-9]+')"
)


def _shingles_sql(tokens: str, n: int = 3) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""(
        CASE WHEN len({tokens}) - {n - 1} <= 0 THEN CAST([] AS VARCHAR[])
             ELSE list_distinct(list_transform(
                      range(1, len({tokens}) - {n - 2}),
                      i -> {gram.replace('t[', f'({tokens})[')}))
        END)"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents + verbatim copies (planted exact dups)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"), F.col("text")
    )
    return D.exact_dedup(docs.unionByName(copies))


register(
    QuerySpec(
        name="exact_dedup_groups",
        description="exact dedup: sha256 content hash -> canonical id + group size",
        spark=q_exact_dedup,
        oracle=f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET}, text FROM documents
            ),
            hashed AS (SELECT doc_id, sha256(text) AS content_hash FROM aug),
            groups AS (
                SELECT content_hash, min(doc_id) AS canonical_id,
                       count(*) AS group_size
                FROM hashed GROUP BY content_hash
            )
            SELECT h.doc_id, h.content_hash, g.canonical_id, g.group_size
            FROM hashed h JOIN groups g USING (content_hash)
        """,
    )
)

# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (fully oracle-checked: same hashes -> same buckets)
# ---------------------------------------------------------------------------

_MH_K, _MH_BANDS, _MH_NGRAM, _MH_THRESHOLD = 8, 4, 3, 0.3

#: Band-bucket cap (operators/dedup.py:lsh_candidate_pairs). Far above any
#: content-bound bucket at every tested SF (max 26 at sf0.1, 180 at the
#: x10 probe — the cap changes NOTHING there), it exists for the
#: boilerplate/template clusters whose buckets grow linearly with the
#: corpus (1510 members at x100, 75% of all pair work): those are
#: near-identical-doc clusters the exact-dedup pass owns. Mirrored in the
#: oracle as a HAVING over the identical band hashes.
_MH_MAX_BUCKET = 512


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair graph the LSH family shares (pairs, components,
    keep-best, PageRank, triangles, contamination). Built per query:
    consumers that re-read it materialize it themselves."""
    return D.minhash_near_dups(
        _augmented_docs(spark, sf_dir),
        ngram=_MH_NGRAM,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
        max_bucket=_MH_MAX_BUCKET,
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_dup_pairs(spark, sf_dir)


# string-built oracle: 8 minhash mins, 4 band hashes, bucket self-join,
# exact jaccard verification — mirrors operators/dedup.py step for step
_MH_SIG_ENTRIES = ", ".join(
    "list_aggregate(list_transform(shingles, s -> "
    + h60_sql(f"'{i}:' || s")
    + "), 'min')"
    for i in range(_MH_K)
)
_MH_BAND_ENTRIES = ", ".join(
    f"md5(CAST(mh[{2 * b + 1}] AS VARCHAR) || ',' || CAST(mh[{2 * b + 2}] AS VARCHAR))"
    for b in range(_MH_BANDS)
)

def _minhash_oracle(
    cap: int, threshold: float | None = None, aug_sql: str | None = None
) -> str:
    """Full MinHash-LSH oracle with the band-bucket cap parameterized —
    shared by the standard query (cap far above the content-bound
    envelope) and the cap-binding variant (cap=3 BINDS at driver SFs,
    so the drop-the-mega-bucket branch gets its own external rows,
    round-7 VERDICT "missing" #2). ``threshold`` defaults to the
    registered _MH_THRESHOLD; the r10 threshold-sweep query passes 0.0
    to get every verified candidate with its exact Jaccard. ``aug_sql``
    swaps the pair corpus (default: the shared suffix-copy augmentation;
    the r10 recall matrix passes its four-plant corpus)."""
    if threshold is None:
        threshold = _MH_THRESHOLD
    if aug_sql is None:
        aug_sql = _AUG_DOCS_SQL
    return f"""
    WITH aug AS ({aug_sql}),
    sh AS (
        SELECT doc_id, {_shingles_sql(_TOKENS_SQL, _MH_NGRAM)} AS shingles
        FROM aug
    ),
    sh2 AS (SELECT * FROM sh WHERE len(shingles) > 0),
    sig AS (SELECT doc_id, shingles, [{_MH_SIG_ENTRIES}] AS mh FROM sh2),
    bands AS (
        SELECT doc_id, band_id, band_hashes[band_id + 1] AS band_hash
        FROM (SELECT doc_id, [{_MH_BAND_ENTRIES}] AS band_hashes FROM sig),
             range({_MH_BANDS}) r(band_id)
    ),
    -- bucket cap, the twin of lsh_candidate_pairs(max_bucket=...):
    -- bounded-recall drop of oversized (template/boilerplate) buckets
    bok AS (
        SELECT band_id, band_hash FROM bands
        GROUP BY band_id, band_hash HAVING count(*) <= {cap}
    ),
    bands2 AS (
        SELECT b.* FROM bands b JOIN bok USING (band_id, band_hash)
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM bands2 l JOIN bands2 r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
                    THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
                                AS DOUBLE)
                    ELSE 0.0 END AS jaccard
        FROM cand c
        JOIN sh2 a ON c.id_a = a.doc_id
        JOIN sh2 b ON c.id_b = b.doc_id
    ) WHERE jaccard >= {threshold!r}
"""


_MINHASH_ORACLE = _minhash_oracle(_MH_MAX_BUCKET)

register(
    QuerySpec(
        name="minhash_lsh_neardups",
        description="MinHash(k=8) + LSH(4 bands) near-dup pairs with exact "
        "Jaccard verify, over planted near-dups; oracle reproduces every "
        "hash/bucket bit-for-bit",
        spark=q_minhash_lsh,
        oracle=_MINHASH_ORACLE,
    )
)

#: A cap small enough to BIND at driver SFs (band-bucket size envelope
#: measured via the oracle's bands CTE: max 8 at sf0.001, 6 at sf0.01 —
#: cap 3 drops ~70 buckets at each), so the drop-the-mega-bucket branch
#: and the bounded-recall HAVING mirror get external rows of their own
#: instead of riding a cap that never fires below the x100 probe
#: (round-7 VERDICT "missing" #2).
_MH_BINDING_CAP = 3


def q_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_near_dups(
        _augmented_docs(spark, sf_dir),
        ngram=_MH_NGRAM,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
        max_bucket=_MH_BINDING_CAP,
    )


register(
    QuerySpec(
        name="minhash_lsh_neardups_cap3",
        description="MinHash-LSH near-dup pairs under a BINDING band-"
        "bucket cap (max_bucket=3): exercises the bounded-recall drop "
        "branch end-to-end at driver SFs",
        spark=q_minhash_lsh_capped,
        oracle=_minhash_oracle(_MH_BINDING_CAP),
    )
)


def q_lsh_capped_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observability half of the cap contract: every band bucket the
    binding cap drops, with its size — what a production pipeline feeds
    to a downstream exact/sampled-verify pass so capped recall loss is
    measured, not assumed (operators/dedup.py:lsh_oversized_buckets)."""
    # Spread before the tokenize/8-md5-signature pipeline: this audit
    # rebuilds the spine OUTSIDE minhash_near_dups (which spreads
    # internally), so the CPU-heavy stages otherwise run on the 2-task
    # union scan (3.11 s measured that way); no-op on wide scans.
    docs = spread_if_narrow(_augmented_docs(spark, sf_dir))
    shingled = D.shingle_docs(
        docs.filter(
            F.size(X.tokenize(F.col("text"))) >= F.lit(_MH_NGRAM)
        ),
        "text",
        "doc_id",
        _MH_NGRAM,
    )
    signed = shingled.select(
        "doc_id",
        D.minhash_signature(F.col("shingles"), _MH_K).alias("signature"),
    )
    return D.lsh_oversized_buckets(
        signed, _MH_K, _MH_BANDS, max_bucket=_MH_BINDING_CAP
    )


register(
    QuerySpec(
        name="lsh_capped_bucket_audit",
        description="census of band buckets a binding max_bucket=3 cap "
        "drops (band_id, band_hash, bucket_size) — the recall-loss "
        "observability feed for the capped LSH path",
        spark=q_lsh_capped_bucket_audit,
        oracle=f"""
    WITH aug AS ({_AUG_DOCS_SQL}),
    sh AS (
        SELECT doc_id, {_shingles_sql(_TOKENS_SQL, _MH_NGRAM)} AS shingles
        FROM aug
    ),
    sh2 AS (SELECT * FROM sh WHERE len(shingles) > 0),
    sig AS (SELECT doc_id, [{_MH_SIG_ENTRIES}] AS mh FROM sh2),
    bands AS (
        SELECT doc_id, band_id, band_hashes[band_id + 1] AS band_hash
        FROM (SELECT doc_id, [{_MH_BAND_ENTRIES}] AS band_hashes FROM sig),
             range({_MH_BANDS}) r(band_id)
    )
    SELECT band_id, band_hash, CAST(count(*) AS BIGINT) AS bucket_size
    FROM bands
    GROUP BY band_id, band_hash
    HAVING count(*) > {_MH_BINDING_CAP}
        """,
    )
)

# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_docs(load_table(spark, "documents", sf_dir))


_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN h.h IS NULL THEN 0 "
    f"WHEN (h.h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(D.SIMHASH_BITS)
)
_SIMHASH_SUM = " + ".join(
    f"CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
    for j in range(D.SIMHASH_BITS)
)

register(
    QuerySpec(
        name="simhash_signatures",
        description="60-bit SimHash per document (bit-voting over token "
        "hashes) + 8-bit blocking prefix",
        spark=q_simhash,
        oracle=f"""
            WITH toks AS (
                SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            hashed AS (SELECT doc_id, {h60_sql('token')} AS h FROM toks),
            votes AS (
                SELECT d.doc_id, {_SIMHASH_VOTES}
                FROM documents d LEFT JOIN hashed h ON d.doc_id = h.doc_id
                GROUP BY d.doc_id
            )
            SELECT doc_id, simhash,
                   simhash >> {D.SIMHASH_BITS - 8} AS prefix8
            FROM (SELECT doc_id, {_SIMHASH_SUM} AS simhash FROM votes)
        """,
    )
)

# ---------------------------------------------------------------------------
# Exact blocked n-gram Jaccard
# ---------------------------------------------------------------------------

_NJ_THRESHOLD = 0.05
_NJ_LEN_BUCKET = 32  # token-count bucket width for the composite block


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Jaccard within BOUNDED composite blocks (lang x source x
    token-length bucket) over the real corpus. A bare language is not a
    bounded block at scale — the composite keeps each self-join cell small
    while near-equal-length same-source docs (where near-dups live) still
    meet. Shared vocabulary gives non-trivial overlap without planted dups.
    """
    return D.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir),
        block_col="lang",
        ngram=1,
        threshold=_NJ_THRESHOLD,
        extra_block_cols=("source",),
        length_bucket_width=_NJ_LEN_BUCKET,
    )


register(
    QuerySpec(
        name="ngram_jaccard_pairs",
        description="exact token-set Jaccard, all pairs within bounded "
        "lang x source x length-bucket blocks",
        spark=q_ngram_jaccard,
        oracle=f"""
            WITH sh AS (
                SELECT doc_id, lang, source,
                       floor(len({_TOKENS_SQL}) / {_NJ_LEN_BUCKET}) AS len_bucket,
                       {_shingles_sql(_TOKENS_SQL, 1)} AS shingles
                FROM documents
            )
            SELECT id_a, id_b, jaccard FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
                            THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                                 / CAST(len(list_distinct(list_concat(a.shingles,
                                                                      b.shingles))) AS DOUBLE)
                            ELSE 0.0 END AS jaccard
                FROM sh a JOIN sh b
                  ON a.lang = b.lang AND a.source = b.source
                     AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
            ) WHERE jaccard >= {_NJ_THRESHOLD!r}
        """,
    )
)

# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

_EMB_THRESHOLD = 0.8
_EMB_PLANES, _EMB_DIM = 4, 64

#: Plane pool size: must cover the largest plane budget any oracle in this
#: module enumerates. The adaptive budgets below are 16 (r7, raised from
#: 12): the x100 probe measured embedding_neardup_pairs at ladder depth
#: p=11 of the old budget — one corpus doubling from saturation, where
#: block size would resume growing and pair work turn quadratic. Budget
#: 16 moves the ceiling to cap * 2^16 rows per base block (~16M for the
#: 250-row embedding cap) at zero small-corpus cost: the guarded
#: signature evaluates only the plane folds the current modulus admits,
#: and every ladder value at or below x100 scale is bit-identical to the
#: budget-12 scheme (the ladders only diverge beyond cap * 2^12).
_EMB_PLANE_POOL = 16

#: Adaptive RP-LSH sub-blocking for embedding_neardup_pairs: plane budget
#: and target expected rows per (label x bucket) block. p = smallest
#: integer with N <= n_labels * 25 << p, so at sf0.001/0.01 (N=1000
#: augmented, 10 labels) p=2, at sf0.1 (N=4000) p=4 — identical blocks to
#: the previous fixed-4-plane scheme — and at the x10 probe (N=40000) p=8:
#: expected block size stays ~25 and pair work stays linear in N (the
#: fixed scheme measured 6.8x wall at 10x data; pair candidates grow N^2).
_EMB_PMAX = 16
_EMB_TARGET_BLOCK = 25


def _h60_py(s: str) -> int:
    """Driver-side twin of operators.text.h60 (md5 first 15 hex digits)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


#: RP-LSH hyperplane components, precomputed exactly as
#: similarity._hyperplane_component evaluates them (cast-to-double then one
#: divide then one subtract — IEEE ops on identical inputs, so the repr'd
#: literals below are bit-identical to what Catalyst constant-folds).
_EMB_PLANE_VALS = [
    [_h60_py(f"rp:{p}:{d}") / float(1 << 59) - 1.0 for d in range(_EMB_DIM)]
    for p in range(_EMB_PLANE_POOL)
]


def _q_embedding_neardups_at(target_block: int):
    """Builder factory: same adaptive pipeline at a given target block
    size (the standard 25-row census query, plus a deep-ladder variant
    whose small target forces a high modulus even at driver SFs)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return D.embedding_near_dups(
            _augmented_embeddings(spark, sf_dir),
            block_col="label",
            threshold=_EMB_THRESHOLD,
            lsh_planes=_EMB_PMAX,
            lsh_dim=_EMB_DIM,
            target_block=target_block,
        )

    return q


#: Candidates blocked by label x adaptive RP-LSH bucket, exact cosine as
#: the verifier — the bare label block of round 1 was an unbounded O(n^2)
#: self-join. Scaled planted copies keep their direction, hence their
#: bucket.
q_embedding_neardups = _q_embedding_neardups_at(_EMB_TARGET_BLOCK)


def _guarded_sig_sql(budget: int) -> str:
    """SQL twin of similarity.rp_lsh_bucket_guarded: bit p contributes —
    and its dot product evaluates (CASE short-circuits in DuckDB too) —
    only when 2**p < mod_; identical to the full signature % mod_ for a
    power-of-two mod_. Expects columns ``embedding`` and ``mod_``."""
    def plane(p: int) -> str:
        return "[" + ", ".join(repr(x) for x in _EMB_PLANE_VALS[p]) + "]"

    return " + ".join(
        f"(CASE WHEN {1 << p} < mod_ THEN "
        f"(CASE WHEN list_dot_product(embedding, {plane(p)}) >= 0 "
        f"THEN {1 << p} ELSE 0 END) ELSE 0 END)"
        for p in range(budget)
    )


def _emb_mod_sql(target_block: int) -> str:
    """Modulus ladder (ascending: first match wins), the SQL twin of the
    operator's chained F.when — shared integer thresholds, exact on both
    engines. n_blocks = count(DISTINCT label) rides in on the same 1-row
    cross join as corpus_n."""
    return (
        "CASE "
        + " ".join(
            f"WHEN corpus_n <= n_blocks * {target_block << p} "
            f"THEN {1 << p}"
            for p in range(_EMB_PMAX)
        )
        + f" ELSE {1 << _EMB_PMAX} END"
    )


def _emb_neardup_oracle(target_block: int) -> str:
    return f"""
            WITH aug AS ({_AUG_EMB_SQL}),
            bucketed AS (
                SELECT vec_id, embedding, label,
                       {_guarded_sig_sql(_EMB_PMAX)} AS bucket,
                       inv_n
                FROM (
                    SELECT vec_id, embedding, label,
                           {_emb_mod_sql(target_block)} AS mod_,
                           -- per-row inverse norm (NULL for zero vectors),
                           -- mirroring the engine's precompute; the sim is
                           -- then (dot * inv_a) * inv_b in the same order
                           CASE WHEN list_dot_product(embedding,
                                                      embedding) > 0
                                THEN 1.0
                                     / sqrt(list_dot_product(embedding,
                                                             embedding))
                           END AS inv_n
                    FROM aug
                    CROSS JOIN (SELECT count(*) AS corpus_n,
                                       count(DISTINCT label) AS n_blocks
                                FROM aug)
                )
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bucketed a JOIN bucketed b
              ON a.label = b.label AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
            WHERE (list_dot_product(a.embedding, b.embedding)
                   * a.inv_n) * b.inv_n >= {_EMB_THRESHOLD!r}
        """


register(
    QuerySpec(
        name="embedding_neardup_pairs",
        description="pairwise cosine >= 0.8 within label x RP-LSH-bucket "
        "blocks over embeddings + planted scaled copies",
        spark=q_embedding_neardups,
        oracle=_emb_neardup_oracle(_EMB_TARGET_BLOCK),
    )
)

#: Deep-ladder variant (r6 VERDICT #6): target_block=1 forces the adaptive
#: modulus to a DEEP step even at driver SFs — at sf0.01 (N=1000 augmented,
#: 10 labels) the ladder picks p=7 (modulus 128) vs the standard query's
#: p=2, so the engine/oracle parity of the guarded signature's high planes
#: gets an external CORRECTNESS row, not just the local hypothesis pin
#: (tests/test_extensions.py). Planted scaled copies share every sign bit
#: (same direction), so recall on true dups is depth-independent.
register(
    QuerySpec(
        name="embedding_neardup_pairs_deep",
        description="adaptive RP-LSH near-dup pairs at target_block=1: "
        "deep modulus ladder step (p~7 at sf0.01) exercised end-to-end",
        spark=_q_embedding_neardups_at(1),
        oracle=_emb_neardup_oracle(1),
    )
)

# ---------------------------------------------------------------------------
# Similarity search: brute-force top-k (exact) + RP-LSH (rows-only)
# ---------------------------------------------------------------------------

#: Fixed 64-dim query vector, exact binary fractions (k/32) on both sides.
QUERY_VEC = [((i * 37) % 64 - 32) / 32.0 for i in range(64)]
_TOPK = 25

_QUERY_SQL = "[" + ", ".join(repr(x) for x in QUERY_VEC) + "]"


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.brute_force_topk(emb, QUERY_VEC, k=_TOPK)


register(
    QuerySpec(
        name="similarity_topk_bruteforce",
        description="exact cosine top-25 to a fixed query vector "
        "(TakeOrdered, bit-identical scores cross-engine)",
        spark=q_similarity_topk,
        oracle=f"""
            SELECT vec_id,
                   list_dot_product(CAST(embedding AS DOUBLE[]), {_QUERY_SQL})
                   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))
                      * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL})))
                     AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id
            LIMIT {_TOPK}
        """,
    )
)


_LSH_PLANES, _LSH_PROBE_BITS = 4, 2
_LSH_PLANE_VALUES = S.rp_plane_values(_LSH_PLANES, 64)
_LSH_PROBES = S.rp_probe_buckets(QUERY_VEC, _LSH_PLANES, 64, _LSH_PROBE_BITS)


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k probing the query's RP-LSH bucket plus the 2
    lowest-margin bit-flip buckets (multi-probe): 3 of 16 buckets scanned.
    The hyperplanes are h60-derived literals, so the whole plan — bucket
    assignment, probe set, cosine ranking — is deterministic and fully
    value-hash oracled (unlike round 1's single-probe rows-only entry)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.lsh_topk(
        emb, QUERY_VEC, k=_TOPK, num_planes=_LSH_PLANES, dim=64,
        n_probe_bits=_LSH_PROBE_BITS,
    )


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]"


_LSH_SIG_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(embedding, {_plane_sql(pl)}) >= 0"
    f" THEN {1 << p} ELSE 0 END)"
    for p, pl in enumerate(_LSH_PLANE_VALUES)
)

register(
    QuerySpec(
        name="similarity_topk_lsh",
        description="multi-probe RP-LSH ANN top-25: query bucket + 2 "
        "low-margin bit flips, exact cosine within (fully oracled)",
        spark=q_similarity_lsh_topk,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            ),
            sigs AS (
                SELECT vec_id, embedding, {_LSH_SIG_SQL} AS bucket FROM base
            )
            SELECT vec_id,
                   list_dot_product(embedding, {_QUERY_SQL})
                   / (sqrt(list_dot_product(embedding, embedding))
                      * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL})))
                     AS cos_sim
            FROM sigs
            WHERE bucket IN ({", ".join(str(b) for b in _LSH_PROBES)})
            ORDER BY cos_sim DESC, vec_id
            LIMIT {_TOPK}
        """,
    )
)

# ---------------------------------------------------------------------------
# IVF ANN top-k — the second scale path (cell-partitioned probe), fully
# oracle-checked because the coarse centroids are deterministic literals.
# ---------------------------------------------------------------------------

_IVF_CELLS, _IVF_PROBE = 8, 2
_IVF_CENTROIDS = S.ivf_centroid_values(_IVF_CELLS, 64)
_IVF_PROBE_CELLS = S.ivf_probe_cells(QUERY_VEC, _IVF_CENTROIDS, _IVF_PROBE)


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: assign every vector to its nearest fixed coarse centroid,
    rank by exact cosine only inside the query's 2 nearest cells (~1/4 of
    the corpus scanned at 8 cells). Deterministic end to end, so unlike the
    RP-LSH entry this approximate path gets a full value-hash oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.ivf_topk(
        emb, QUERY_VEC, k=_TOPK, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, dim=64
    )


def _ivf_centroid_sql(c: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in c) + "]"


_IVF_DIST_COLS = ", ".join(
    f"((list_dot_product(embedding, embedding)"
    f" - 2.0 * list_dot_product(embedding, {_ivf_centroid_sql(c)}))"
    f" + {S.dot_py(c, c)!r}) AS d{i}"
    for i, c in enumerate(_IVF_CENTROIDS)
)
_IVF_LEAST = "least(" + ", ".join(f"d{i}" for i in range(_IVF_CELLS)) + ")"
_IVF_CELL_CASE = (
    "CASE "
    + " ".join(f"WHEN d{i} = m THEN {i}" for i in range(_IVF_CELLS))
    + " END"
)

register(
    QuerySpec(
        name="similarity_topk_ivf",
        description="IVF ANN top-25: nearest-of-8-fixed-centroids cells, "
        "probe the query's 2 nearest cells, exact cosine within",
        spark=q_similarity_ivf_topk,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            ),
            dists AS (SELECT vec_id, embedding, {_IVF_DIST_COLS} FROM base),
            cells AS (
                SELECT vec_id, embedding, {_IVF_CELL_CASE} AS cell
                FROM (SELECT *, {_IVF_LEAST} AS m FROM dists)
            )
            SELECT vec_id,
                   list_dot_product(embedding, {_QUERY_SQL})
                   / (sqrt(list_dot_product(embedding, embedding))
                      * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL})))
                     AS cos_sim
            FROM cells
            WHERE cell IN ({", ".join(str(p) for p in _IVF_PROBE_CELLS)})
            ORDER BY cos_sim DESC, vec_id
            LIMIT {_TOPK}
        """,
    )
)

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", X.lang_id(F.col("text")).alias("pred_lang"), F.col("lang")
    )


_HITS = {
    lang: f"len(list_filter({_TOKENS_SQL}, t -> list_contains({words!r}, t)))"
    for lang, words in X.STOPWORDS.items()
}
_BEST = f"greatest({', '.join(_HITS.values())})"
_LANG_CASE = (
    f"CASE WHEN {_BEST} <= 0 THEN 'und' "
    + " ".join(f"WHEN {_HITS[lang]} = {_BEST} THEN '{lang}'" for lang in X.STOPWORDS)
    + " END"
)

register(
    QuerySpec(
        name="text_lang_id",
        description="stopword-voting language ID vs the labeled lang column",
        spark=q_lang_id,
        oracle=f"SELECT doc_id, {_LANG_CASE} AS pred_lang, lang FROM documents",
    )
)


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tokens"),
        X.quality_score(F.col("text")).alias("quality"),
    )


_EN_SW = X.STOPWORDS["en"]
_QUALITY_SQL = f"""
    (CASE WHEN length(text) >= 50 AND length(text) <= 2000 THEN 1.0 ELSE 0.0 END) * 0.25
    + (CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS DOUBLE)
       / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.25
    + (CAST(len(list_filter({_TOKENS_SQL}, t -> list_contains({_EN_SW!r}, t))) AS DOUBLE)
       / CAST(greatest(len({_TOKENS_SQL}), 1) AS DOUBLE)) * 0.25
    + (CASE WHEN (CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS DOUBLE)
                  / CAST(greatest(len({_TOKENS_SQL}), 1) AS DOUBLE)) >= 2.0
             AND (CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS DOUBLE)
                  / CAST(greatest(len({_TOKENS_SQL}), 1) AS DOUBLE)) <= 12.0
            THEN 1.0 ELSE 0.0 END) * 0.25
"""

register(
    QuerySpec(
        name="text_quality_score",
        description="token count + 4-component quality heuristic per doc",
        spark=q_quality,
        oracle=f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT)
                     AS n_tokens,
                   {_QUALITY_SQL} AS quality
            FROM documents
        """,
    )
)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish pre-tokenizer token counts per document — the
    two standard cost models for sizing an LLM training corpus. The BPE
    pattern is lookahead-free so RE2 (DuckDB) and Java regex (Spark) count
    identically."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        X.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        X.bpe_token_estimate(F.col("text")).alias("n_bpe_tokens"),
    )


_BPE_SQL = X.BPE_PATTERN.replace("'", "''")

register(
    QuerySpec(
        name="token_count_bpe",
        description="whitespace + GPT2-style pre-tokenizer token counts "
        "per document (LLM corpus sizing)",
        spark=q_token_counts,
        oracle=f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\\S+')) AS INT)
                     AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INT)
                     AS n_bpe_tokens
            FROM documents
        """,
    )
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row rolling-hash fold over every token: CPU-bound map work
    docs = spread_if_narrow(load_table(spark, "documents", sf_dir))
    return docs.select(
        "doc_id", X.doc_fingerprint(F.col("text"), n=5).alias("fingerprint")
    )


register(
    QuerySpec(
        name="doc_fingerprint",
        description="winnowing-style fingerprint: min h60 over word 5-grams",
        spark=q_fingerprint,
        oracle=f"""
            SELECT doc_id,
                   list_aggregate(
                       list_transform({_shingles_sql(_TOKENS_SQL, 5)},
                                      s -> {h60_sql('s')}),
                       'min') AS fingerprint
            FROM documents
        """,
    )
)

# ---------------------------------------------------------------------------
# Multimodal: decode-stub stats (oracle via sha256/octet_length twins)
# ---------------------------------------------------------------------------


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: synthesize assets, decode via
    mapInPandas stub, aggregate per modality. The decode emits both the raw
    sha256 first byte (int) and the normalized feature; the average uses the
    int byte — sum exact in int64, ONE double division at the end — so the
    result is independent of partial-agg accumulation order (round-1 hash
    mismatch: summing b/255.0 doubles diverged from DuckDB in the last ulp).
    """
    from ..operators.multimodal import decode_assets, synthesize_assets

    docs = load_table(spark, "documents", sf_dir)
    assets = synthesize_assets(docs)
    decoded = decode_assets(assets)
    return decoded.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        (
            F.sum("byte0").cast("double")
            / (F.lit(255.0) * F.count(F.lit(1)).cast("double"))
        ).alias("avg_feature_0"),
    )


register(
    QuerySpec(
        name="multimodal_decode_stats",
        description="binary payload -> mapInPandas decode stub -> per-modality "
        "stats (sha256-derived feature oracled in SQL)",
        spark=q_multimodal_decode,
        oracle=f"""
            WITH assets AS (
                SELECT doc_id AS asset_id,
                       CASE WHEN doc_id % 3 = 0 THEN 'image'
                            WHEN doc_id % 3 = 1 THEN 'audio'
                            ELSE 'video' END AS modality,
                       strlen(text) AS n_bytes,
                       CAST(('0x' || substr(sha256(text), 1, 2)) AS INT)
                         AS byte0
                FROM documents
            )
            SELECT modality, count(*) AS n_assets,
                   CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                   CAST(sum(byte0) AS DOUBLE) / (255.0 * count(*))
                     AS avg_feature_0
            FROM assets GROUP BY modality
        """,
    )
)


def q_video_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: per-asset sampled frame count from the real
    explode+decode path, oracled against the closed-form count."""
    from ..operators.multimodal import sample_video_frames, synthesize_assets

    docs = load_table(spark, "documents", sf_dir)
    frames = sample_video_frames(synthesize_assets(docs), every_ms=1000)
    return frames.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n_frames"))


register(
    QuerySpec(
        name="video_frame_counts",
        description="video frame-sampling plumbing: explode fan-out count vs "
        "closed-form oracle",
        spark=q_video_frame_counts,
        oracle="""
            SELECT doc_id AS asset_id,
                   CAST((greatest(length(text) * 10 - 1, 0) // 1000) + 1 AS BIGINT)
                     AS n_frames
            FROM documents
            WHERE doc_id % 3 = 2
        """,
    )
)


# ---------------------------------------------------------------------------
# Vector aggregation: per-label centroids + L2 normalization
# ---------------------------------------------------------------------------


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long form (label, dim, n, centroid_val), via the
    deterministic fold variant so the float mean is bit-reproducible in
    DuckDB (sorted-by-vec_id left fold, one final division). The scale
    variant (plain avg, order-dependent) is tested against this one with
    tolerance in tests/test_extensions.py.
    """
    from ..operators.vectors import label_centroids_deterministic

    emb = load_table(spark, "embeddings", sf_dir)
    return label_centroids_deterministic(emb)


register(
    QuerySpec(
        name="label_centroids",
        description="per-label embedding centroids (deterministic sorted "
        "fold; long form label x 64 dims)",
        spark=q_label_centroids,
        oracle="""
            WITH base AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ),
            expl AS (
                SELECT label, vec_id,
                       generate_subscripts(e, 1) AS dim, unnest(e) AS val
                FROM base
            )
            SELECT label, CAST(dim AS INT) AS dim,
                   count(*) AS n,
                   list_reduce(
                       list_prepend(0.0, list(val ORDER BY vec_id)),
                       (a, b) -> a + b
                   ) / CAST(count(*) AS DOUBLE) AS centroid_val
            FROM expl
            GROUP BY label, dim
        """,
    )
)


def q_embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize every embedding; emit the norm and a serialized probe
    of the unit vector (first component + fold-sum of components) — exact
    cross-engine floats because every op is the shared left-fold idiom.
    """
    from ..operators.vectors import l2_normalize

    emb = load_table(spark, "embeddings", sf_dir)
    unit = l2_normalize(emb)
    return unit.select(
        "vec_id",
        "norm",
        F.element_at("unit", 1).alias("unit_0"),
        F.aggregate("unit", F.lit(0.0), lambda a, v: a + v).alias("unit_sum"),
    )


register(
    QuerySpec(
        name="embedding_l2_normalize",
        description="L2 normalization: norm, first unit component, and "
        "left-fold sum of unit components per vector",
        spark=q_embedding_l2_normalize,
        oracle="""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ),
            n AS (
                SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS norm
                FROM base
            ),
            u AS (
                SELECT vec_id, norm,
                       CASE WHEN norm = 0.0 THEN e
                            ELSE list_transform(e, x -> x / norm) END AS unit
                FROM n
            )
            SELECT vec_id, norm, unit[1] AS unit_0,
                   list_reduce(
                       list_prepend(0.0, unit), (a, b) -> a + b
                   ) AS unit_sum
            FROM u
        """,
    )
)


# ---------------------------------------------------------------------------
# Multimodal: image resize + audio windowing (same stubbed-codec pattern as
# decode_assets — real Arrow plumbing, closed-form sha256 oracles)
# ---------------------------------------------------------------------------


def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: per-image 32x32 resample with an exact int64 pixel
    sum and one final double division for the mean."""
    from ..operators.multimodal import resize_images, synthesize_assets

    docs = load_table(spark, "documents", sf_dir)
    resized = resize_images(synthesize_assets(docs), target_w=32, target_h=32)
    return resized.select(
        "asset_id",
        "out_w",
        "out_h",
        "px_sum",
        (
            F.col("px_sum").cast("double")
            / (F.lit(255.0) * F.col("n_px").cast("double"))
        ).alias("px_mean"),
    )


register(
    QuerySpec(
        name="image_resize_stats",
        description="image resize (mapInPandas stub codec): 32x32 resample, "
        "exact int pixel sum + mean",
        spark=q_image_resize_stats,
        # the (i*31)%32 walk over 1024 pixels covers each of the 32 digest
        # bytes exactly 32 times -> px_sum = 32 * sum(all digest bytes)
        oracle="""
            SELECT doc_id AS asset_id,
                   CAST(32 AS INT) AS out_w, CAST(32 AS INT) AS out_h,
                   CAST(32 * list_sum(list_transform(range(32), i ->
                       CAST(('0x' || substr(sha256(text), 2*i + 1, 2)) AS INT)
                   )) AS BIGINT) AS px_sum,
                   CAST(32 * list_sum(list_transform(range(32), i ->
                       CAST(('0x' || substr(sha256(text), 2*i + 1, 2)) AS INT)
                   )) AS DOUBLE) / (255.0 * 1024.0) AS px_mean
            FROM documents WHERE doc_id % 3 = 0
        """,
    )
)


def q_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing: 500 ms analysis windows (JVM explode fan-out),
    per-window int energy from the Python stub, exact int64 rollup."""
    from ..operators.multimodal import synthesize_assets, window_audio_frames

    docs = load_table(spark, "documents", sf_dir)
    frames = window_audio_frames(synthesize_assets(docs), window_ms=500)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("energy").alias("energy_sum"),
        (
            F.sum("energy").cast("double")
            / (F.lit(255.0) * F.count(F.lit(1)).cast("double"))
        ).alias("energy_mean"),
    )


register(
    QuerySpec(
        name="audio_window_energy",
        description="audio analysis windows: explode fan-out + per-window "
        "sha energy, exact int rollup per asset",
        spark=q_audio_window_energy,
        oracle="""
            WITH a AS (
                SELECT doc_id AS asset_id, text,
                       (greatest(length(text) * 10 - 1, 0) // 500) + 1
                         AS n_windows
                FROM documents WHERE doc_id % 3 = 1
            ),
            w AS (
                SELECT asset_id, n_windows,
                       list_transform(range(n_windows), k ->
                           CAST(('0x' || substr(
                               sha256(text || ':' || CAST(k * 500 AS VARCHAR)),
                               1, 2)) AS INT)
                       ) AS energies
                FROM a
            )
            SELECT asset_id,
                   CAST(n_windows AS BIGINT) AS n_windows,
                   CAST(list_sum(energies) AS BIGINT) AS energy_sum,
                   CAST(list_sum(energies) AS DOUBLE)
                     / (255.0 * CAST(n_windows AS DOUBLE)) AS energy_mean
            FROM w
        """,
    )
)


# ---------------------------------------------------------------------------
# Corpus cleaning (operators/cleaning.py): html-strip + PII + repetition +
# deterministic splits. All row-local expressions — no shuffle until the
# final tiny groupBy, so these run inside the scan stage at any corpus size.
# ---------------------------------------------------------------------------


def q_text_clean_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.length(C.strip_html(F.col("text"))).alias("len_clean"),
        F.length(C.redact_pii(F.col("text"))).alias("len_redacted"),
        C.pii_hit_count(F.col("text")).alias("n_pii"),
    )


_EMAIL = C.EMAIL_PATTERN
_PHONE = C.PHONE_PATTERN

register(
    QuerySpec(
        name="text_clean_pii",
        description="html-strip + email/phone redaction lengths and PII "
        "span counts per document",
        spark=q_text_clean_pii,
        oracle=f"""
            SELECT doc_id,
                   CAST(length({C.strip_html_sql('text')}) AS INT)
                     AS len_clean,
                   CAST(length({C.redact_pii_sql('text')}) AS INT)
                     AS len_redacted,
                   CAST(len(regexp_extract_all(text, '{_EMAIL}'))
                        + len(regexp_extract_all(
                              regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
                              '{_PHONE}')) AS INT) AS n_pii
            FROM documents
        """,
    )
)


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    dup_lines, dup_words = C.repetition_ratios(F.col("text"))
    return docs.select(
        "doc_id",
        dup_lines.alias("dup_line_ratio"),
        dup_words.alias("dup_word_ratio"),
    )


_LINES_SQL = "list_filter(string_split_regex(text, '\\n'), x -> trim(x) <> '')"
_WORDS_SQL = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


def _dup_ratio_sql(arr: str) -> str:
    return (
        f"CASE WHEN len({arr}) <= 0 THEN 0.0 "
        f"ELSE 1.0 - CAST(len(list_distinct({arr})) AS DOUBLE)"
        f" / CAST(len({arr}) AS DOUBLE) END"
    )


register(
    QuerySpec(
        name="doc_repetition",
        description="Gopher-style duplicate-line / duplicate-word ratios "
        "per document (boilerplate detector)",
        spark=q_doc_repetition,
        oracle=f"""
            SELECT doc_id,
                   {_dup_ratio_sql(_LINES_SQL)} AS dup_line_ratio,
                   {_dup_ratio_sql(_WORDS_SQL)} AS dup_word_ratio
            FROM documents
        """,
    )
)


def q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash splits + a per-language 10% sample census: the
    reproducibility contract (same ids -> same split/sample, any engine)
    is exactly what the oracle equality proves."""
    docs = load_table(spark, "documents", sf_dir)
    labeled = docs.select(
        F.col("lang"),
        C.hash_split("doc_id").alias("split"),
        C.stratified_sample_flag("doc_id", 10).alias("sampled"),
    )
    return labeled.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
    )


_SPLIT_SQL = C.hash_split_sql("doc_id")
_SAMPLE_SALTED = "'sample:' || CAST(doc_id AS VARCHAR)"
_SAMPLE_SQL = f"(({h60_sql(_SAMPLE_SALTED)} % 100) + 100) % 100 < 10"

register(
    QuerySpec(
        name="corpus_split_counts",
        description="deterministic 98/1/1 train/val/test hash split + 10% "
        "stratified sample census per language",
        spark=q_corpus_splits,
        oracle=f"""
            SELECT lang,
                   {_SPLIT_SQL} AS split,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN {_SAMPLE_SQL} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sampled
            FROM documents
            GROUP BY lang, {_SPLIT_SQL}
        """,
    )
)


# ---------------------------------------------------------------------------
# Near-dup GROUPS: connected components over the MinHash pair graph
# (operators/graph.py). Pairs are edges; dedup needs transitive closure.
# ---------------------------------------------------------------------------


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every augmented doc mapped to its near-dup component minimum
    (docs with no near-dup edge stay their own canonical). The min-label
    propagation runs distributed; the oracle recomputes the same fixpoint
    with a recursive CTE over the identical pair set."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    return G.dedup_canonical(pairs, aug.select("doc_id"), "doc_id")


#: Shared by the propagation and star variants: both reach the identical
#: component fixpoint, so one recursive-CTE oracle serves both.
_COMPONENTS_ORACLE = f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
            edges AS MATERIALIZED (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b AS u, id_a AS v FROM pairs
            ),
            nodes AS (SELECT DISTINCT u AS node FROM edges),
            walk AS (
                SELECT node, node AS comp FROM nodes
                UNION
                SELECT e.v AS node, w.comp
                FROM walk w JOIN edges e ON w.node = e.u
            ),
            comp AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node),
            aug_ids AS (
                SELECT doc_id FROM documents
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET} FROM documents
            )
            SELECT d.doc_id,
                   coalesce(c.comp, d.doc_id) AS canonical_id,
                   d.doc_id = coalesce(c.comp, d.doc_id) AS is_kept
            FROM aug_ids d LEFT JOIN comp c ON d.doc_id = c.node
        """

register(
    QuerySpec(
        name="neardup_components",
        description="connected components over MinHash near-dup pairs -> "
        "canonical doc per component (iterative min-label propagation)",
        spark=q_neardup_components,
        oracle=_COMPONENTS_ORACLE,
    )
)


def q_neardup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same canonical mapping via the alternating large-star/small-star
    scheme (Kiveris et al. SoCC'14, operators/graph.py:_cc_star) —
    O(log n) rounds regardless of graph diameter, the variant an
    adversarial long-chain graph needs at 100 TB. Identical fixpoint,
    identical oracle."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    return G.dedup_canonical(
        pairs, aug.select("doc_id"), "doc_id", algorithm="star"
    )


register(
    QuerySpec(
        name="neardup_components_star",
        description="connected components via alternating large-star/"
        "small-star (O(log n) rounds, diameter-independent) — same "
        "fixpoint and oracle as neardup_components",
        spark=q_neardup_components_star,
        oracle=_COMPONENTS_ORACLE,
    )
)


def q_neardup_components_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same canonical mapping via algorithm="auto" (r9): min-label
    propagation with the frontier-stall probe that switches to star
    mid-run on long-chain topologies (operators/graph.py:
    _cc_propagation). On the near-dup graph the frontier collapses
    geometrically, so the probe must NOT fire and the result is the
    propagation fixpoint — externally certifying the auto path's default
    branch; the switch branch is pinned by tests/test_graph.py on a
    planted 64-chain. Identical fixpoint, identical oracle."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    return G.dedup_canonical(
        pairs, aug.select("doc_id"), "doc_id", algorithm="auto"
    )


register(
    QuerySpec(
        name="neardup_components_auto",
        description="connected components via the auto crossover "
        "(propagation with frontier-stall switch to star) — same "
        "fixpoint and oracle as neardup_components",
        spark=q_neardup_components_auto,
        oracle=_COMPONENTS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# End-to-end corpus curation funnel: the composed cleaning pipeline as one
# single-pass aggregate (language -> quality -> repetition -> exact-unique).
# ---------------------------------------------------------------------------


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts through the standard curation cascade. One scan,
    zero joins: every stage is a conjunctive predicate folded into
    conditional aggregates (count_distinct for the dedup stage), so the
    whole funnel is a single map-side-combined aggregation — the shape
    you want when the input is 100 TB and the output is 5 numbers."""
    docs = load_table(spark, "documents", sf_dir)
    quality = X.quality_score(F.col("text"))
    _, dup_words = C.repetition_ratios(F.col("text"))
    en = F.col("lang") == "en"
    qual_ok = en & (quality >= 0.5)
    low_rep = qual_ok & (dup_words <= 0.2)
    return docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(en.cast("long")).alias("n_en"),
        F.sum(qual_ok.cast("long")).alias("n_quality"),
        F.sum(low_rep.cast("long")).alias("n_low_rep"),
        F.count_distinct(
            F.when(low_rep, F.sha2(F.col("text"), 256))
        ).alias("n_unique"),
    )


_EN_COND = "lang = 'en'"
_QUAL_COND = f"{_EN_COND} AND ({_QUALITY_SQL}) >= 0.5"
_LOWREP_COND = f"{_QUAL_COND} AND ({_dup_ratio_sql(_WORDS_SQL)}) <= 0.2"

register(
    QuerySpec(
        name="corpus_curation_funnel",
        description="single-pass curation funnel: total -> english -> "
        "quality -> low-repetition -> exact-unique survivor counts",
        spark=q_curation_funnel,
        oracle=f"""
            SELECT count(*) AS n_total,
                   CAST(sum(CASE WHEN {_EN_COND} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_en,
                   CAST(sum(CASE WHEN {_QUAL_COND} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_quality,
                   CAST(sum(CASE WHEN {_LOWREP_COND} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_low_rep,
                   count(DISTINCT CASE WHEN {_LOWREP_COND}
                                       THEN sha256(text) END) AS n_unique
            FROM documents
        """,
    )
)


# ---------------------------------------------------------------------------
# Gopher-style rule census: per-document quality flags + conjunctive keep
# ---------------------------------------------------------------------------


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags (operators/text.gopher_flags): one
    codegen'd pass, no shuffle — the row-level filter stage every corpus
    pipeline runs before any grouping work."""
    docs = load_table(spark, "documents", sf_dir)
    flags = X.gopher_flags(F.col("text"))
    return docs.select(
        "doc_id", *[col.alias(name) for name, col in flags.items()]
    )


_GOPHER_SQL = X.gopher_flags_sql("text")

register(
    QuerySpec(
        name="gopher_quality_flags",
        description="Gopher-style quality rules: word count / word length / "
        "symbol ratio / alpha ratio / required stopwords -> keep verdict",
        spark=q_gopher_quality_flags,
        oracle="SELECT doc_id, "
        + ", ".join(f"{sql} AS {name}" for name, sql in _GOPHER_SQL.items())
        + " FROM documents",
    )
)


# ---------------------------------------------------------------------------
# Decontamination: n-gram overlap between the corpus and an eval/benchmark
# set. The standard pre-training hygiene check: any training document
# sharing a large fraction of an eval doc's 5-grams is contaminated.
# ---------------------------------------------------------------------------


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram-hash overlap of every training doc against a planted eval
    set (truncated copies of every 20th doc — the same augmentation
    discipline as the dedup family).

    Scale shape: the eval side is the benchmark suite — thousands of docs,
    not billions — so its exploded gram set broadcasts; the training side
    streams through map-side explode + one broadcast hash join + one
    aggregation. No shuffle of the corpus itself (the spread guard is a
    one-time narrow shuffle of raw rows, not the gram explosion).
    """
    docs = spread_if_narrow(load_table(spark, "documents", sf_dir))
    ev = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + _AUG_OFFSET).alias("eval_id"),
        F.substring(F.col("text"), 21, 1_000_000).alias("text"),
    )

    def grams(df: DataFrame, idc: str) -> DataFrame:
        g = F.explode(X.word_ngrams(X.tokenize(F.col("text")), 5)).alias("gram")
        return df.select(idc, g).select(idc, X.h60(F.col("gram")).alias("g"))

    tg = grams(docs, "doc_id")
    eg = grams(ev, "eval_id")
    en = eg.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval"))
    pairs = (
        tg.join(F.broadcast(eg), "g")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_eval").cast("double")
    return (
        pairs.join(F.broadcast(en), "eval_id")
        .select(
            "doc_id",
            "eval_id",
            "n_overlap",
            "n_eval",
            frac.alias("overlap_frac"),
        )
        .filter(F.col("overlap_frac") >= 0.2)
    )


register(
    QuerySpec(
        name="decontamination_overlap",
        description="eval-set decontamination: 5-gram hash overlap fraction "
        "per (train doc, eval doc), broadcast benchmark side",
        spark=q_decontamination,
        oracle=f"""
            WITH ev AS (
                SELECT doc_id + {_AUG_OFFSET} AS eval_id,
                       substring(text, 21, 1000000) AS text
                FROM documents WHERE doc_id % 20 = 0
            ),
            eg AS (
                SELECT eval_id, {h60_sql('gram')} AS g
                FROM (SELECT eval_id,
                             unnest({_shingles_sql(_TOKENS_SQL, 5)}) AS gram
                      FROM ev)
            ),
            tg AS (
                SELECT doc_id, {h60_sql('gram')} AS g
                FROM (SELECT doc_id,
                             unnest({_shingles_sql(_TOKENS_SQL, 5)}) AS gram
                      FROM documents)
            ),
            en AS (SELECT eval_id, count(*) AS n_eval FROM eg GROUP BY eval_id),
            p AS (
                SELECT t.doc_id, e.eval_id, count(*) AS n_overlap
                FROM tg t JOIN eg e ON t.g = e.g
                GROUP BY t.doc_id, e.eval_id
            )
            SELECT p.doc_id, p.eval_id, p.n_overlap, en.n_eval,
                   CAST(p.n_overlap AS DOUBLE) / CAST(en.n_eval AS DOUBLE)
                     AS overlap_frac
            FROM p JOIN en ON p.eval_id = en.eval_id
            WHERE CAST(p.n_overlap AS DOUBLE) / CAST(en.n_eval AS DOUBLE) >= 0.2
        """,
    )
)


# ---------------------------------------------------------------------------
# Sequence packing: assign documents (in stable doc_id order) to fixed
# token-budget bins — the step that turns a curated corpus into training
# batches. Two-level cumulative sum so no stage ever needs a global
# single-partition window over the corpus.
# ---------------------------------------------------------------------------

_PACK_BIN = 2048  # tokens per training sequence
_PACK_SHARD = 100  # docs per cumsum shard


def _binned_docs(
    spark: SparkSession, sf_dir: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id [, carry...], n_tokens, bin) via the two-level cumsum: an
    intra-shard running sum (window partitioned by contiguous doc_id
    shard) plus per-shard prefix offsets (a shard-count-sized frame — the
    only single-partition window, over n_docs/100 rows, not n_docs). That
    is the 100 TB-safe way to compute a corpus-ordered cumulative sum.
    """
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        *carry,
        X.bpe_token_estimate(F.col("text")).cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(_PACK_SHARD)).alias("shard"),
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    shard_tot = t.groupBy("shard").agg(F.sum("n_tokens").alias("tot"))
    w_sh = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = shard_tot.select(
        "shard", F.coalesce(F.sum("tot").over(w_sh), F.lit(0)).alias("prefix")
    )
    return t.join(F.broadcast(prefix), "shard").select(
        "doc_id",
        *carry,
        "n_tokens",
        F.floor(
            (F.col("prefix") + F.col("cum_in") - F.col("n_tokens"))
            / F.lit(float(_PACK_BIN))
        ).alias("bin"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing: global exclusive token cumsum -> bin =
    floor(offset / budget); per-bin doc count, token count, id span."""
    return _binned_docs(spark, sf_dir).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


register(
    QuerySpec(
        name="sequence_packing",
        description="greedy contiguous packing of docs into 2048-token "
        "training bins via two-level cumulative sum",
        spark=q_sequence_packing,
        oracle=f"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '{_BPE_SQL}'))
                            AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
                       - n_tokens AS off
                FROM t
            )
            SELECT CAST(floor(off / {float(_PACK_BIN)!r}) AS BIGINT) AS bin,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   min(doc_id) AS first_doc,
                   max(doc_id) AS last_doc
            FROM c GROUP BY 1
        """,
    )
)


# ---------------------------------------------------------------------------
# Chunk-level (paragraph) dedup: exact dedup at sub-document granularity —
# 25-token chunks hashed across the corpus; per-doc duplicated-chunk
# fraction. Catches boilerplate shared across otherwise-distinct docs.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 25


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-chunk census over documents + verbatim
    copies (planted sub-document dups). Explode to chunks (map-side), one
    hash-count shuffle, one join back — chunk cardinality is ~n_tokens/25,
    so the shuffle carries a fraction of the corpus token count.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    aug = docs.unionByName(
        docs.select((F.col("doc_id") + _AUG_OFFSET).alias("doc_id"), "text")
    )
    # r11: tokens hoisted into their own projection — the old lambda
    # body referenced the raw tokenize expression, so the regexp re-ran
    # once per CHUNK (n_tokens/25 times per doc). Output identical.
    toked = aug.select("doc_id", X.tokenize(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    k = _CHUNK_TOKENS
    chunks = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(float(k))).cast("int")),
            lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
        )
    )
    ex = toked.select("doc_id", F.explode(chunks).alias("chunk")).select(
        "doc_id", X.h60(F.col("chunk")).alias("h")
    )
    counts = ex.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        ex.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            (
                F.col("n_dup_chunks").cast("double")
                / F.col("n_chunks").cast("double")
            ).alias("dup_chunk_frac"),
        )
    )


register(
    QuerySpec(
        name="chunk_dedup_census",
        description="sub-document exact dedup: 25-token chunk hashes, "
        "per-doc duplicated-chunk fraction over corpus + verbatim copies",
        spark=q_chunk_dedup,
        oracle=f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET} AS doc_id, text FROM documents
            ),
            tk AS (
                SELECT doc_id, {_TOKENS_SQL} AS t FROM aug
            ),
            ch AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(0, (len(t) + {_CHUNK_TOKENS - 1}) // {_CHUNK_TOKENS}),
                           i -> array_to_string(
                                    list_slice(t, i * {_CHUNK_TOKENS} + 1,
                                               i * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}),
                                    ' '))) AS chunk
                FROM tk
            ),
            hs AS (SELECT doc_id, {h60_sql('chunk')} AS h FROM ch),
            cnt AS (SELECT h, count(*) AS cnt FROM hs GROUP BY h)
            SELECT hs.doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_chunks,
                   CAST(sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS dup_chunk_frac
            FROM hs JOIN cnt ON hs.h = cnt.h
            GROUP BY hs.doc_id
        """,
    )
)


# ---------------------------------------------------------------------------
# Embedding int8 quantization: per-vector symmetric scale, clamp, exact
# integer checksum + reconstruction error. The storage/serving compression
# step for embedding corpora.
# ---------------------------------------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x|/127,
    q_i = clamp(round-half-up(x_i/scale)), reconstruction error
    = sum((x_i - q_i*scale)^2) as a sequential left fold.

    Zero Python in the row path; rounding is floor(x+0.5) on BOTH engines
    (never round(), whose half-boundary mode differs between them). The
    checksum is an exact integer sum; the error reuses the fold ==
    list_dot_product equivalence proven by the cosine family.
    """
    # three 64-element folds per row: CPU-bound map work on a narrow scan
    emb = spread_if_narrow(load_table(spark, "embeddings", sf_dir))
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(vd, F.abs))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(
        vd,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x / scale + 0.5).cast("int"))
        ),
    )
    diff_sq = F.zip_with(
        vd, q, lambda x, qi: (x - qi.cast("double") * scale)
        * (x - qi.cast("double") * scale)
    )
    return emb.select(
        "vec_id",
        F.size(F.col("embedding")).alias("n_dims"),
        scale.alias("scale"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long")
        ).alias("q_checksum"),
        F.aggregate(diff_sq, F.lit(0.0), lambda acc, v: acc + v).alias(
            "recon_err"
        ),
    )


register(
    QuerySpec(
        name="embedding_quantize_error",
        description="symmetric int8 quantization: per-vector scale, integer "
        "checksum, reconstruction error (fold-exact doubles)",
        spark=q_embedding_quantize,
        oracle="""
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
                FROM embeddings
            ),
            s AS (
                SELECT vec_id, vd,
                       CASE WHEN list_max(list_transform(vd, x -> abs(x))) > 0
                            THEN list_max(list_transform(vd, x -> abs(x))) / 127.0
                            ELSE 1.0 END AS scale
                FROM v
            ),
            q AS (
                SELECT vec_id, vd, scale,
                       list_transform(vd, x ->
                           greatest(-127, least(127,
                               CAST(floor(x / scale + 0.5) AS INT)))) AS qv
                FROM s
            ),
            d AS (
                SELECT vec_id, vd, scale, qv,
                       list_transform(range(1, len(vd) + 1),
                           i -> vd[i] - qv[i] * scale) AS diff
                FROM q
            )
            SELECT vec_id,
                   CAST(len(vd) AS INT) AS n_dims,
                   scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_checksum,
                   list_dot_product(diff, diff) AS recon_err
            FROM d
        """,
    )
)


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the MinHash near-dup graph: iterative
# link-analysis as repeated join+aggregate, with ALL arithmetic in scaled
# int64 (floor division) so three iterations reproduce bit-for-bit in SQL.
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITERS = 3


def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 power iterations of PageRank (damping 0.85) over the near-dup
    pair graph. Per iteration: ranks ⋈ edges on the source key, then an
    aggregation keyed by destination — the canonical distributed PageRank
    shape (shuffle on u, shuffle on v), unrolled 3x with the lineage
    growing linearly. Ranks are scaled int64 with floor division: integer
    sums are accumulation-order-free, so the unrolled-CTE oracle matches
    exactly (double PageRank would diverge in the last ulp).

    Dangling nodes (no out-edges) receive only the teleport term — the
    simplification is identical on both sides.
    """
    aug = _augmented_docs(spark, sf_dir)
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    outdeg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # The LSH candidate pipeline above is a deep subtree; unrolled 3x it
    # would be re-derived per iteration (exchange reuse does not reach
    # across the rank-join boundary). One checkpointed edge list caps it
    # at one computation and leaves no CacheManager entry behind.
    ed = edges.join(outdeg, "u").localCheckpoint()

    n_docs = load_table(spark, "documents", sf_dir).count()  # tiny scalar
    big_n = 2 * n_docs
    s = _PR_SCALE
    teleport = (15 * s) // (100 * big_n)

    nodes = aug.select(F.col("doc_id").alias("node"))
    ranks = nodes.select("node", F.lit(s // big_n).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = ed.join(ranks, ed.u == ranks.node).select(
            F.col("v").alias("node"),
            F.expr("(85 * r) div (100 * CAST(d AS BIGINT))").alias("c"),
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (F.lit(teleport).cast("long") + F.coalesce(F.col("inflow"), F.lit(0).cast("long")))
            .cast("long")
            .alias("r"),
        )
    return ranks.select(
        F.col("node").alias("doc_id"),
        F.col("r").alias("rank_scaled"),
        (F.col("r") / F.lit(float(s))).alias("rank"),
    )


def _pagerank_oracle() -> str:
    s = _PR_SCALE
    iters = [
        f"r0 AS (SELECT node, {s} // (SELECT n FROM params) AS r FROM nodes)"
    ]
    for i in range(_PR_ITERS):
        iters.append(f"""r{i + 1} AS (
            SELECT n.node,
                   (15 * {s}) // (100 * (SELECT n FROM params))
                   + coalesce(CAST(sum((85 * r.r) // (100 * e.d)) AS BIGINT), 0)
                     AS r
            FROM nodes n
            LEFT JOIN ed e ON e.v = n.node
            LEFT JOIN r{i} r ON e.u = r.node
            GROUP BY n.node
        )""")
    return f"""
        WITH pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
        edges AS MATERIALIZED (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        outdeg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
        ed AS (SELECT e.u, e.v, o.d FROM edges e JOIN outdeg o ON e.u = o.u),
        aug AS ({_AUG_DOCS_SQL}),
        nodes AS (SELECT doc_id AS node FROM aug),
        params AS (SELECT 2 * count(*) AS n FROM documents),
        {', '.join(iters)}
        SELECT node AS doc_id, r AS rank_scaled,
               r / {float(_PR_SCALE)!r} AS rank
        FROM r{_PR_ITERS}
    """


register(
    QuerySpec(
        name="pagerank_neardup_graph",
        description="3-iteration fixed-point PageRank (damping 0.85) over "
        "the MinHash near-dup graph; scaled-int64 arithmetic, exact oracle",
        spark=q_pagerank_neardup,
        oracle=_pagerank_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Corpus statistics: rare-token ratio (two-pass vocabulary census + join
# back) and top-k bigram counts — the frequency signals quality filters and
# tokenizer training start from.
# ---------------------------------------------------------------------------

_RARE_MAX_COUNT = 5  # a token is "rare" if the corpus holds < this many


def q_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of token positions carrying corpus-rare tokens.

    Pass 1 builds the vocabulary census (one explode + hash agg — the
    shuffle carries distinct tokens, not positions, thanks to map-side
    combine). Pass 2 joins positions back to counts; the vocabulary is
    orders of magnitude smaller than the corpus, so it broadcasts. All
    outputs are integer ratios — exact across engines.
    """
    docs = load_table(spark, "documents", sf_dir)
    pos = docs.select(
        "doc_id", F.explode(X.tokenize(F.col("text"))).alias("tok")
    )
    vocab = pos.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        pos.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("cnt") < _RARE_MAX_COUNT).cast("long")).alias(
                "n_rare"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            (
                F.col("n_rare").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("rare_frac"),
        )
    )


register(
    QuerySpec(
        name="rare_token_ratio",
        description="per-doc fraction of token positions with corpus "
        "frequency < 5 (vocabulary census + broadcast join back)",
        spark=q_rare_token_ratio,
        oracle=f"""
            WITH pos AS (
                SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
            ),
            vocab AS (SELECT tok, count(*) AS cnt FROM pos GROUP BY tok)
            SELECT p.doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(CASE WHEN v.cnt < {_RARE_MAX_COUNT}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                   CAST(sum(CASE WHEN v.cnt < {_RARE_MAX_COUNT}
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS rare_frac
            FROM pos p JOIN vocab v ON p.tok = v.tok
            GROUP BY p.doc_id
        """,
    )
)


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams by occurrence (NOT distinct-per-doc — real
    frequencies), deterministic total order (count desc, bigram asc) so
    the limit is stable. TakeOrderedAndProject: no global sort.
    """
    docs = spread_if_narrow(load_table(spark, "documents", sf_dir))
    # hoisted token projection + zip_with over shifted slices (r11): the
    # old transform(sequence) lambda referenced the raw tokenize
    # expression, re-running the regexp per bigram position (r7 trap);
    # measured 0.86 s -> 0.56 s at sf0.1, output byte-identical.
    toked = docs.select(X.tokenize(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    grams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    return (
        toked.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


register(
    QuerySpec(
        name="bigram_topk",
        description="top-20 corpus bigrams by occurrence count with "
        "deterministic tie-break",
        spark=q_bigram_topk,
        oracle=f"""
            WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
            g AS (
                SELECT unnest(list_transform(
                           range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM t WHERE len(toks) >= 2
            )
            SELECT bigram, count(*) AS cnt FROM g GROUP BY bigram
            ORDER BY cnt DESC, bigram ASC LIMIT 20
        """,
    )
)


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packed training sequences: per bin, the documents
    concatenated in corpus order (newline-joined) — fingerprinted with
    sha256 so the check carries a 64-char digest per bin instead of
    megabytes of packed text. collect_list+sort_array keeps the in-bin
    order deterministic under any shuffle placement.
    """
    binned = _binned_docs(spark, sf_dir, carry=("text",))
    packed = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sort_array(
            F.collect_list(F.struct("doc_id", "text"))
        ).alias("docs"),
    )
    joined = F.concat_ws(
        "\n", F.transform(F.col("docs"), lambda d: d.getField("text"))
    )
    return packed.select(
        "bin",
        "n_docs",
        "n_tokens",
        F.length(joined).alias("packed_chars"),
        F.sha2(joined, 256).alias("packed_sha"),
    )


register(
    QuerySpec(
        name="packed_sequences",
        description="materialized 2048-token training bins: doc texts "
        "concatenated in corpus order, sha256-fingerprinted per bin",
        spark=q_packed_sequences,
        oracle=f"""
            WITH t AS (
                SELECT doc_id, text,
                       CAST(len(regexp_extract_all(text, '{_BPE_SQL}'))
                            AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, text, n_tokens,
                       CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
                       - n_tokens AS off
                FROM t
            ),
            b AS (
                SELECT CAST(floor(off / {float(_PACK_BIN)!r}) AS BIGINT)
                         AS bin,
                       doc_id, text, n_tokens
                FROM c
            )
            SELECT bin, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(length(string_agg(text, chr(10) ORDER BY doc_id))
                        AS INT) AS packed_chars,
                   sha256(string_agg(text, chr(10) ORDER BY doc_id))
                     AS packed_sha
            FROM b GROUP BY bin
        """,
    )
)


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivor policy: within each near-dup component keep the
    LONGEST document (tie-break lowest id) instead of the minimum id —
    the policy real corpus dedup uses (keep the most complete variant).
    Components come from the same min-label propagation; the survivor is
    one ordered window per component, no extra join.
    """
    aug = _augmented_docs(spark, sf_dir)
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = G.connected_components(pairs)
    d = (
        aug.select("doc_id", F.length("text").alias("n_chars"))
        .join(comp, aug.doc_id == comp.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    survivor = F.first("doc_id").over(w)
    return d.select(
        "doc_id",
        "component",
        "n_chars",
        survivor.alias("survivor_id"),
        (F.col("doc_id") == survivor).alias("is_kept"),
    )


register(
    QuerySpec(
        name="neardup_keep_best",
        description="near-dup dedup with keep-longest survivor policy per "
        "connected component",
        spark=q_neardup_keep_best,
        oracle=f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
            edges AS MATERIALIZED (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b AS u, id_a AS v FROM pairs
            ),
            nodes AS (SELECT DISTINCT u AS node FROM edges),
            walk AS (
                SELECT node, node AS comp FROM nodes
                UNION
                SELECT e.v AS node, w.comp
                FROM walk w JOIN edges e ON w.node = e.u
            ),
            comp AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node),
            aug AS ({_AUG_DOCS_SQL}),
            d AS (
                SELECT a.doc_id,
                       CAST(length(a.text) AS INT) AS n_chars,
                       coalesce(c.comp, a.doc_id) AS component
                FROM aug a LEFT JOIN comp c ON a.doc_id = c.node
            )
            SELECT doc_id, component, n_chars,
                   first_value(doc_id) OVER w AS survivor_id,
                   doc_id = first_value(doc_id) OVER w AS is_kept
            FROM d
            WINDOW w AS (PARTITION BY component
                         ORDER BY n_chars DESC, doc_id ASC)
        """,
    )
)


def q_similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: metadata predicate + ANN ranking in one plan. The
    label filter reaches the parquet scan (PushedFilters), so the cosine
    ranking touches only the filtered slice — the composition every vector
    store calls 'filtered search', expressed as plain predicate pushdown +
    TakeOrdered."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("label") == 3)
    return S.brute_force_topk(emb, QUERY_VEC, k=_TOPK).select(
        "vec_id", "cos_sim"
    )


register(
    QuerySpec(
        name="similarity_topk_filtered",
        description="hybrid filtered search: label predicate pushed to scan "
        "+ exact cosine top-25 over the slice",
        spark=q_similarity_topk_filtered,
        oracle=f"""
            SELECT vec_id,
                   list_dot_product(CAST(embedding AS DOUBLE[]), {_QUERY_SQL})
                   / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))
                      * sqrt(list_dot_product({_QUERY_SQL}, {_QUERY_SQL})))
                     AS cos_sim
            FROM embeddings
            WHERE label = 3
            ORDER BY cos_sim DESC, vec_id
            LIMIT {_TOPK}
        """,
    )
)


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: for every ordered source pair,
    how many distinct 5-gram hashes they share. The per-source distinct
    gram sets are tiny next to the corpus (grams dedup within source
    first — map-side combine does the heavy lifting), so the cross join
    of per-source sets is a join between compact aggregates, not facts.
    """
    docs = spread_if_narrow(load_table(spark, "documents", sf_dir))
    grams = (
        docs.select(
            "source",
            F.explode(X.word_ngrams(X.tokenize(F.col("text")), 5)).alias(
                "gram"
            ),
        )
        .select("source", X.h60(F.col("gram")).alias("g"))
        .distinct()
    )
    a = grams.select(F.col("source").alias("source_a"), "g")
    b = grams.select(F.col("source").alias("source_b"), "g")
    return (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


register(
    QuerySpec(
        name="source_overlap_matrix",
        description="cross-source duplication census: shared distinct "
        "5-gram hashes per source pair",
        spark=q_source_overlap_matrix,
        oracle=f"""
            WITH grams AS (
                SELECT DISTINCT source, {h60_sql('gram')} AS g
                FROM (SELECT source,
                             unnest({_shingles_sql(_TOKENS_SQL, 5)}) AS gram
                      FROM documents)
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_shared_grams
            FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
            GROUP BY a.source, b.source
        """,
    )
)


def q_label_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding covariance head (applyInPandas + numpy): the
    grouped dense-linear-algebra surface, in its externally-checkable
    form. The eigensolve isn't SQL, but the covariance trace is (sum of
    per-dim sample variances, deterministic-fold idiom), and sum(eigvals)
    == trace pins the eigensolve to it via the spectrum_ok flag whose
    oracle twin is literal TRUE. The raw top-eigenvalue surface stays on
    operators.vectors.label_top_eigenvalue (numpy ground truth
    pytest-pinned in tests/test_round2_ops.py)."""
    from ..operators.vectors import label_spectrum_checked

    emb = load_table(spark, "embeddings", sf_dir)
    return label_spectrum_checked(emb)


register(
    QuerySpec(
        name="label_embedding_spectrum",
        description="per-label covariance trace (deterministic fold) + "
        "eigensolve self-check via grouped Arrow-batched numpy "
        "(applyInPandas)",
        spark=q_label_spectrum,
        oracle="""
            WITH base AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings
            ),
            expl AS (
                SELECT label, vec_id,
                       generate_subscripts(e, 1) AS dim, unnest(e) AS val
                FROM base
            ),
            means AS (
                SELECT label, dim, count(*) AS n,
                       list_reduce(
                           list_prepend(0.0, list(val ORDER BY vec_id)),
                           (a, b) -> a + b
                       ) / CAST(count(*) AS DOUBLE) AS m
                FROM expl GROUP BY label, dim
            ),
            vars AS (
                SELECT e.label, e.dim, any_value(m.n) AS n,
                       list_reduce(
                           list_prepend(
                               0.0,
                               list((e.val - m.m) * (e.val - m.m)
                                    ORDER BY e.vec_id)
                           ),
                           (a, b) -> a + b
                       ) / greatest(any_value(m.n) - 1, 1) AS var
                FROM expl e
                JOIN means m ON e.label = m.label AND e.dim = m.dim
                GROUP BY e.label, e.dim
            )
            SELECT label,
                   CAST(any_value(n) AS BIGINT) AS n_vectors,
                   CAST(count(*) AS INT) AS dim,
                   list_reduce(
                       list_prepend(0.0, list(var ORDER BY dim)),
                       (a, b) -> a + b
                   ) AS trace,
                   TRUE AS spectrum_ok
            FROM vars GROUP BY label
        """,
    )
)


def q_global_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids in corpus order WITHOUT a global
    single-partition window: intra-shard row_number + broadcast shard
    prefix counts (the counting twin of the packing cumsum). The id
    assignment every training-example store needs; validated against the
    oracle's global row_number.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    shard = F.floor(F.col("doc_id") / F.lit(_PACK_SHARD)).alias("shard")
    t = docs.select("doc_id", shard)
    w_in = Window.partitionBy("shard").orderBy("doc_id")
    t = t.withColumn("rn_in", F.row_number().over(w_in))
    shard_counts = t.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
    w_sh = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = shard_counts.select(
        "shard",
        F.coalesce(F.sum("cnt").over(w_sh), F.lit(0)).alias("prefix"),
    )
    return (
        t.join(F.broadcast(prefix), "shard")
        .select(
            "doc_id",
            (F.col("prefix") + F.col("rn_in")).cast("long").alias("row_id"),
        )
    )


register(
    QuerySpec(
        name="global_row_numbers",
        description="contiguous global row ids via two-level enumeration "
        "(no full-corpus single-partition window)",
        spark=q_global_row_numbers,
        oracle="""
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
                     AS row_id
            FROM documents
        """,
    )
)


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein verification of planted near-dup pairs: edit distance
    between each doc's prefix and its mutated copy's — the
    character-level verifier for candidate pairs whose token-level
    signals (MinHash/SimHash) already matched. Integer output, exact on
    both engines. Bounded: one row per planted pair, never all-pairs.

    The distance runs over the ASCII projection of the text (every
    non-ASCII codepoint folded to '?'): Spark's levenshtein counts
    codepoints while DuckDB's counts BYTES, so the raw strings diverge on
    any multibyte character (caught by tests/test_unicode_sweep.py); on
    the projection byte == codepoint and both engines agree exactly.
    """
    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    t = F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "?")
    a = F.substring(t, 1, 60)
    b = F.substring(t, 21, 60)  # the _AUG mutation's view
    return docs.select(
        "doc_id",
        (F.col("doc_id") + _AUG_OFFSET).alias("mutated_id"),
        F.levenshtein(a, b).alias("edit_distance"),
        F.length(a).alias("len_a"),
        F.length(b).alias("len_b"),
    )


register(
    QuerySpec(
        name="edit_distance_pairs",
        description="Levenshtein edit distance between planted near-dup "
        "prefixes over the ASCII projection (byte-vs-codepoint-safe "
        "character-level dedup verifier)",
        spark=q_edit_distance_pairs,
        oracle=rf"""
            WITH proj AS (
                SELECT doc_id,
                       regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS t
                FROM documents WHERE doc_id % 10 = 0
            )
            SELECT doc_id,
                   doc_id + {_AUG_OFFSET} AS mutated_id,
                   CAST(levenshtein(substring(t, 1, 60),
                                    substring(t, 21, 60)) AS INT)
                     AS edit_distance,
                   CAST(length(substring(t, 1, 60)) AS INT) AS len_a,
                   CAST(length(substring(t, 21, 60)) AS INT) AS len_b
            FROM proj
        """,
    )
)


def q_decontaminated_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of decontamination: drop every training doc whose
    5-gram overlap with any eval doc reaches 0.5, report survivor census
    per source. Detection reuses q_decontamination's plan; removal is one
    broadcast anti join on the (small) flagged-id set — detection cost
    amortizes, the corpus is touched once more.
    """
    flagged = (
        q_decontamination(spark, sf_dir)
        .filter(F.col("overlap_frac") >= 0.5)
        .select("doc_id")
        .distinct()
    )
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.join(F.broadcast(flagged), "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_clean_docs"))
    )


register(
    QuerySpec(
        name="decontaminated_counts",
        description="decontamination applied: anti-join flagged docs, "
        "clean-survivor census per source",
        spark=q_decontaminated_counts,
        oracle=f"""
            WITH ev AS (
                SELECT doc_id + {_AUG_OFFSET} AS eval_id,
                       substring(text, 21, 1000000) AS text
                FROM documents WHERE doc_id % 20 = 0
            ),
            eg AS (
                SELECT eval_id, {h60_sql('gram')} AS g
                FROM (SELECT eval_id,
                             unnest({_shingles_sql(_TOKENS_SQL, 5)}) AS gram
                      FROM ev)
            ),
            tg AS (
                SELECT doc_id, {h60_sql('gram')} AS g
                FROM (SELECT doc_id,
                             unnest({_shingles_sql(_TOKENS_SQL, 5)}) AS gram
                      FROM documents)
            ),
            en AS (SELECT eval_id, count(*) AS n_eval FROM eg GROUP BY eval_id),
            p AS (
                SELECT t.doc_id, e.eval_id, count(*) AS n_overlap
                FROM tg t JOIN eg e ON t.g = e.g
                GROUP BY t.doc_id, e.eval_id
            ),
            flagged AS (
                SELECT DISTINCT p.doc_id
                FROM p JOIN en ON p.eval_id = en.eval_id
                WHERE CAST(p.n_overlap AS DOUBLE) / CAST(en.n_eval AS DOUBLE)
                      >= 0.5
            )
            SELECT d.source, count(*) AS n_clean_docs
            FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
            GROUP BY d.source
        """,
    )
)


# ---------------------------------------------------------------------------
# Co-grouped applyInPandas: per-order 7-day event attribution
# ---------------------------------------------------------------------------


def q_cogroup_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogroup surface (groupBy().cogroup().applyInPandas): per-order count
    of that customer's events in the 7 days up to the order — a per-key
    merge_asof-style algorithm with no row-multiplying range join. The
    oracle is the equivalent (row-expanding) interval join + re-aggregate.
    """
    from ..operators.cogroup import event_attribution

    events = load_table(spark, "events", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return event_attribution(events, orders)


register(
    QuerySpec(
        name="cogroup_event_attribution",
        description="cogrouped applyInPandas: per-order 7-day prior event "
        "count (merge_asof-style, no row-multiplying join)",
        spark=q_cogroup_event_attribution,
        oracle="""
            SELECT o.o_orderkey,
                   count(e.ts) AS n_events_7d
            FROM orders o
            LEFT JOIN events e
              ON e.user_id = o.o_custkey
             AND e.ts > o.o_orderdate - INTERVAL 7 DAY
             AND e.ts <= o.o_orderdate
            GROUP BY o.o_orderkey
        """,
    )
)


# ---------------------------------------------------------------------------
# Temperature-based source sampling (deterministic, cross-engine exact)
# ---------------------------------------------------------------------------

#: Knuth multiplicative-hash constant; doc_id * K stays well under 2^63.
_MIX = 2654435761
_U_DENOM = 4294967296  # 2^32


def q_source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture flattening for corpus assembly: downsample heavy sources so
    per-source mass approaches the geometric middle (rate_s =
    sqrt(min_mass / mass_s), i.e. temperature alpha=0.5 on character mass,
    smallest source kept whole).

    Determinism across engines: the per-row uniform is a multiplicative
    hash of doc_id (exact int64 arithmetic), the rate uses one division +
    sqrt (both IEEE correctly-rounded, so bit-identical in Spark and
    DuckDB) — the keep/drop decision can never flip between engines. The
    plan is two scans of documents (one tiny mass agg, broadcast back) —
    no shuffle of the corpus itself at any scale.
    """
    docs = load_table(spark, "documents", sf_dir)
    mass = docs.groupBy("source").agg(F.sum("n_chars").alias("mass"))
    min_mass = mass.agg(F.min("mass").alias("min_mass"))
    rates = mass.crossJoin(F.broadcast(min_mass)).select(
        "source",
        F.sqrt(
            F.col("min_mass").cast("double") / F.col("mass").cast("double")
        ).alias("rate"),
    )
    u = (
        (F.col("doc_id") * F.lit(_MIX)) % F.lit(_U_DENOM)
    ).cast("double") / F.lit(float(_U_DENOM))
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(u < F.col("rate")).alias("n_kept"),
            F.min("rate").alias("rate"),
        )
    )


register(
    QuerySpec(
        name="source_temperature_sample",
        description="temperature (alpha=0.5) source mixture flattening via "
        "deterministic multiplicative-hash sampling",
        spark=q_source_temperature_sample,
        oracle=f"""
            WITH mass AS (
                SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
                FROM documents GROUP BY source
            ), rates AS (
                SELECT source,
                       sqrt(CAST((SELECT min(mass) FROM mass) AS DOUBLE)
                            / CAST(mass AS DOUBLE)) AS rate
                FROM mass
            )
            SELECT d.source,
                   count(*) AS n_docs,
                   count(*) FILTER (
                       WHERE CAST((d.doc_id * {_MIX}) % {_U_DENOM} AS DOUBLE)
                             / {float(_U_DENOM)!r} < r.rate
                   ) AS n_kept,
                   min(r.rate) AS rate
            FROM documents d JOIN rates r USING (source)
            GROUP BY d.source
        """,
    )
)


# ---------------------------------------------------------------------------
# Inverted index: term -> sorted posting list
# ---------------------------------------------------------------------------


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list build, the retrieval-side twin of the dedup family:
    explode terms (codegen'd generate, no Python), ONE hash agg keyed on
    term builds occurrence count, document frequency, and the sorted
    posting list together (collect_set merges map-side). Serialization via
    array_join for exact cross-engine comparison. The df >= 3 cut keeps
    the long tail of hapax terms out of the result the same way a real
    index drops below-threshold postings into a cold tier.
    """
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(F.split(X.ascii_lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    return (
        words.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("df"),
            F.array_join(F.array_sort(F.collect_set("doc_id")), ",").alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= 3)
    )


register(
    QuerySpec(
        name="inverted_index",
        description="inverted-index build: term -> (occurrences, doc "
        "frequency, sorted posting list), one hash agg",
        spark=q_inverted_index,
        oracle="""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'))
                         AS term
                FROM documents
            )
            SELECT term,
                   count(*) AS n_occ,
                   count(DISTINCT doc_id) AS df,
                   array_to_string(list_sort(list(DISTINCT doc_id)), ',')
                     AS postings
            FROM words
            WHERE term <> ''
            GROUP BY term
            HAVING count(DISTINCT doc_id) >= 3
        """,
    )
)


# ---------------------------------------------------------------------------
# Keyword search: exact-arithmetic TF-IDF top-k over the corpus
# ---------------------------------------------------------------------------

_SEARCH_TERMS = ("join", "shuffle", "broadcast")


def q_keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked keyword retrieval: score(doc) = sum over query terms of
    tf(term, doc) * (N / df(term)) — TF-IDF with a rational idf instead of
    a log, because log() is not IEEE-exactly-rounded and differs between
    libm builds, while (+ - * /) on identical inputs are bit-identical in
    Spark and DuckDB. The per-doc sum is written as a FIXED-ORDER
    expression over per-term pivot columns (never F.sum over a double
    column, whose accumulation order is engine- and partitioning-
    dependent), so the score can't drift by an ulp and flip the top-k
    boundary. Plan: one explode + one (doc) agg with conditional counts,
    one tiny cross-joined 1-row df frame, TakeOrdered for top-k.
    """
    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()  # 1-row job; a literal keeps the plan simple
    words = docs.select(
        "doc_id",
        F.explode(F.split(X.ascii_lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term").isin(*_SEARCH_TERMS))
    tf = words.groupBy("doc_id").agg(
        *[
            F.count_if(F.col("term") == t).alias(f"tf_{t}")
            for t in _SEARCH_TERMS
        ]
    )
    dfs = tf.agg(
        *[
            F.count_if(F.col(f"tf_{t}") > 0).alias(f"df_{t}")
            for t in _SEARCH_TERMS
        ]
    )
    n = F.lit(float(n_docs))
    score = None
    for t in _SEARCH_TERMS:
        # greatest(df,1): a term absent from the corpus has tf=0 everywhere,
        # so its contribution is 0 regardless of divisor — but ANSI mode
        # would otherwise raise DIVIDE_BY_ZERO.
        safe_df = F.greatest(F.col(f"df_{t}"), F.lit(1)).cast("double")
        w = F.col(f"tf_{t}").cast("double") * (n / safe_df)
        score = w if score is None else score + w
    n_hit = None
    for t in _SEARCH_TERMS:
        h = (F.col(f"tf_{t}") > 0).cast("long")
        n_hit = h if n_hit is None else n_hit + h
    return (
        tf.crossJoin(F.broadcast(dfs))
        .select(
            "doc_id",
            score.alias("score"),
            n_hit.alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )


register(
    QuerySpec(
        name="keyword_search_topk",
        description="TF-IDF keyword retrieval (rational idf, cross-engine "
        "exact), top-20 docs for a 3-term query",
        spark=q_keyword_search_topk,
        oracle=f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'))
                         AS term
                FROM documents
            ), tf AS (
                SELECT doc_id,
                       count(*) FILTER (WHERE term = 'join') AS tf_join,
                       count(*) FILTER (WHERE term = 'shuffle') AS tf_shuffle,
                       count(*) FILTER (WHERE term = 'broadcast')
                         AS tf_broadcast
                FROM words
                WHERE term IN {_SEARCH_TERMS!r}
                GROUP BY doc_id
            ), dfs AS (
                SELECT count(*) FILTER (WHERE tf_join > 0) AS df_join,
                       count(*) FILTER (WHERE tf_shuffle > 0) AS df_shuffle,
                       count(*) FILTER (WHERE tf_broadcast > 0)
                         AS df_broadcast
                FROM tf
            ), n AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
            )
            SELECT doc_id,
                   CAST(tf_join AS DOUBLE)
                     * (n_docs / CAST(greatest(df_join, 1) AS DOUBLE))
                   + CAST(tf_shuffle AS DOUBLE)
                     * (n_docs / CAST(greatest(df_shuffle, 1) AS DOUBLE))
                   + CAST(tf_broadcast AS DOUBLE)
                     * (n_docs / CAST(greatest(df_broadcast, 1) AS DOUBLE)) AS score,
                   CAST(tf_join > 0 AS BIGINT)
                   + CAST(tf_shuffle > 0 AS BIGINT)
                   + CAST(tf_broadcast > 0 AS BIGINT) AS n_terms_hit
            FROM tf, dfs, n
            ORDER BY score DESC, doc_id
            LIMIT 20
        """,
    )
)


# ---------------------------------------------------------------------------
# BM25 retrieval: length-normalized ranking, exact cross-engine arithmetic
# ---------------------------------------------------------------------------

#: BM25 free parameters as exact rationals: k1 = 6/5 (1.2), b = 3/4
#: (0.75) — the textbook defaults. Kept as integers so the
#: length-normalization denominator clears to all-int64 (below).
_BM25_K1 = (6, 5)
_BM25_B = (3, 4)

# score(d) = sum_t idf_t * tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl*N/L)
# with dl = doc token length, L = corpus token length, N = doc count,
# avgdl = L/N. Multiplying numerator and denominator by 2*k1_den*b_den*L
# (= 40L) and reducing by gcd 4 clears every fraction:
#   numerator   -> _BM25_NUM_C  * L * tf            (22 = 10*(k1+1)/2)
#   denominator -> _BM25_DEN_TF * L * tf
#                + _BM25_DEN_L  * L
#                + _BM25_DEN_DL * dl * N
# so the tf part is ONE int64-ratio -> double division (both casts
# correctly rounded within int64 on both engines).
_BM25_NUM_C = 22   # 10 * (k1_num + k1_den) / k1_den = 10 * 11/5
_BM25_DEN_TF = 10
_BM25_DEN_L = 3    # 10 * k1 * (1-b) = 10 * (6/5) * (1/4)
_BM25_DEN_DL = 9   # 10 * k1 * b     = 10 * (6/5) * (3/4)
assert (
    _BM25_NUM_C * _BM25_K1[1] == 10 * (_BM25_K1[0] + _BM25_K1[1])
    and _BM25_DEN_L * _BM25_K1[1] * _BM25_B[1] == 10 * _BM25_K1[0] * (_BM25_B[1] - _BM25_B[0])
    and _BM25_DEN_DL * _BM25_K1[1] * _BM25_B[1] == 10 * _BM25_K1[0] * _BM25_B[0]
)


def q_bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones), the
    length-normalized upgrade of ``keyword_search_topk`` — the scorer a
    contamination-search or hard-negative pass actually uses. Exactness
    discipline, since runtime log() is banned in hashed results:

    - idf_t = log2((N - df + 1/2) / (df + 1/2)) is computed as
      fp_log2(2N-2df+1) - fp_log2(2df+1) in exact 1/256-bit fixed point
      (functions/fplog2.py) and converted by a /256.0 division (a power
      of two, so the double is EXACT);
    - the tf part clears to a single int64-ratio -> double division via
      the 40L rescale derived above (no float until the last step);
    - the per-doc sum is a fixed-order expression over per-term columns,
      never an engine-ordered aggregate.

    BM25's idf needs no greatest() guard: an absent term (df=0) zeroes
    every tf, and 2N-2df+1 >= 1 keeps fp_log2 defined.

    int64 bound (r9 ADVICE): the rescaled numerator/denominator products
    hold exactly while corpus_len * max(tf) < 2^63 / 22 ~ 4.2e17 (e.g.
    a 10^13-token corpus with 40k-occurrence docs). Past that, divide
    the 40L rescale by a power of two on BOTH sides, or cast corpus_len
    to double in both engines (one documented rounding step); this
    module keeps the exact form and documents the bound, matching
    eval_quota_apportionment's convention.

    Plan: one explode + one per-doc hash agg (map-side combined; dl and
    the per-term tfs from the same pass), a 1-row broadcast of corpus
    stats, TakeOrdered top-20. One corpus scan and ONE tokenize pass:
    the tf relation feeds both the stats aggregate and the scoring
    branch, and because tf ends in a groupBy exchange, ReuseExchange
    materializes it once for both consumers. The shuffle is the
    POST-map-side-combine frame — one narrow (doc_id, dl, tf*) row per
    document, not per token.

    Match-prefilter rejection (r9 VERDICT #6, measured r10): restricting
    the per-doc branch to docs containing >= 1 query term (regex
    boundary-anchored prefilter + array-projection tf, zero-shuffle, with
    an exact 20-doc zero-match fill to keep byte-parity) was built and
    measured ~2x SLOWER at sf0.1 (1.31 s vs 0.84 s cold-protocol min-of-5;
    0.77 s vs 0.37 s warm): (a) 77% of this corpus matches a query term,
    (b) the prefiltered plan loses ReuseExchange and pays the tokenize
    pass twice (stats + matched branches), i.e. it doubles text IO at any
    scale, and (c) the agg shuffle it saves is already one combined row
    per doc. A prefilter only wins when match rate is <<1% AND the
    matched branch avoids re-reading text — that regime belongs to the
    inverted-index path (keyword_search_topk), not the scan scorer. The
    byte-parity edge tests (negative idf, <20 matches) are kept pinned.
    """
    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()  # 1-row job; a literal keeps the plan simple
    words = docs.select(
        "doc_id",
        F.explode(F.split(X.ascii_lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count_if(F.col("term") == t).alias(f"tf_{t}")
            for t in _SEARCH_TERMS
        ],
    )
    stats = tf.agg(
        F.sum("dl").cast("long").alias("corpus_len"),
        *[
            F.count_if(F.col(f"tf_{t}") > 0).cast("long").alias(f"df_{t}")
            for t in _SEARCH_TERMS
        ],
    )
    hoisted = tf.crossJoin(F.broadcast(stats))
    for t in _SEARCH_TERMS:
        hoisted = hoisted.withColumn(
            f"idf_num_{t}",
            F.lit(2 * n_docs + 1) - 2 * F.col(f"df_{t}"),
        ).withColumn(f"idf_den_{t}", 2 * F.col(f"df_{t}") + F.lit(1))
    score = None
    n_hit = None
    for t in _SEARCH_TERMS:
        idf_bits = (
            (fp_log2(f"idf_num_{t}") - fp_log2(f"idf_den_{t}"))
            .cast("double")
            / F.lit(256.0)
        )
        num = (
            F.lit(_BM25_NUM_C) * F.col("corpus_len") * F.col(f"tf_{t}")
        ).cast("double")
        den = (
            F.lit(_BM25_DEN_TF) * F.col("corpus_len") * F.col(f"tf_{t}")
            + F.lit(_BM25_DEN_L) * F.col("corpus_len")
            + F.lit(_BM25_DEN_DL) * F.col("dl") * F.lit(n_docs)
        ).cast("double")
        part = idf_bits * (num / den)
        score = part if score is None else score + part
        h = (F.col(f"tf_{t}") > 0).cast("long")
        n_hit = h if n_hit is None else n_hit + h
    return (
        hoisted.select(
            "doc_id",
            F.col("dl").cast("long").alias("dl"),
            score.alias("score"),
            n_hit.alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )


def _bm25_oracle() -> str:
    from ..functions.fplog2 import fp_log2_sql

    tf_cols = ",\n                       ".join(
        f"count(*) FILTER (WHERE term = '{t}') AS tf_{t}"
        for t in _SEARCH_TERMS
    )
    df_cols = ",\n                       ".join(
        f"CAST(count(*) FILTER (WHERE tf_{t} > 0) AS BIGINT) AS df_{t}"
        for t in _SEARCH_TERMS
    )
    idf_cols = ",\n                       ".join(
        f"(2 * n.n_docs + 1) - 2 * s.df_{t} AS idf_num_{t},\n"
        f"                       2 * s.df_{t} + 1 AS idf_den_{t}"
        for t in _SEARCH_TERMS
    )
    parts = "\n                   + ".join(
        f"CAST({fp_log2_sql(f'idf_num_{t}', 'duckdb')}"
        f" - {fp_log2_sql(f'idf_den_{t}', 'duckdb')} AS DOUBLE) / 256.0"
        f" * (CAST({_BM25_NUM_C} * corpus_len * tf_{t} AS DOUBLE)"
        f" / CAST({_BM25_DEN_TF} * corpus_len * tf_{t}"
        f" + {_BM25_DEN_L} * corpus_len"
        f" + {_BM25_DEN_DL} * dl * n_docs AS DOUBLE))"
        for t in _SEARCH_TERMS
    )
    hits = " + ".join(
        f"CAST(tf_{t} > 0 AS BIGINT)" for t in _SEARCH_TERMS
    )
    return f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'))
                         AS term
                FROM documents
            ), tf AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS dl,
                       {tf_cols}
                FROM words
                WHERE term <> ''
                GROUP BY doc_id
            ), stats AS (
                SELECT CAST(sum(dl) AS BIGINT) AS corpus_len,
                       {df_cols}
                FROM tf
            ), n AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
            ), hoisted AS (
                SELECT t.*, s.corpus_len, n.n_docs,
                       {idf_cols}
                FROM tf t CROSS JOIN stats s CROSS JOIN n
            )
            SELECT doc_id, dl,
                   {parts} AS score,
                   {hits} AS n_terms_hit
            FROM hoisted
            ORDER BY score DESC, doc_id
            LIMIT 20
        """


register(
    QuerySpec(
        name="bm25_search_topk",
        description="BM25 length-normalized retrieval (fixed-point idf, "
        "all-int64 tf normalization, cross-engine exact), top-20 docs",
        spark=q_bm25_search_topk,
        oracle=_bm25_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Lexical diversity: per-document type-token ratio + hapax ratio
# ---------------------------------------------------------------------------


def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document vocabulary richness (type-token ratio, hapax share) —
    the per-doc complement of the corpus-level rare-token stats. One
    explode + one (doc, term) agg + one doc agg, all map-side combined;
    the ratios are single exact divisions (int64 -> double), so no
    accumulation-order risk.
    """
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(F.split(X.ascii_lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    per_term = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("occ")
    )
    return per_term.groupBy("doc_id").agg(
        F.sum("occ").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        (F.count(F.lit(1)).cast("double") / F.sum("occ").cast("double")).alias(
            "ttr"
        ),
        (
            F.count_if(F.col("occ") == 1).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("hapax_ratio"),
    )


register(
    QuerySpec(
        name="text_lexical_diversity",
        description="per-doc type-token ratio and hapax share (vocabulary "
        "richness quality signal)",
        spark=q_text_lexical_diversity,
        oracle="""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'))
                         AS term
                FROM documents
            ), per_term AS (
                SELECT doc_id, term, count(*) AS occ
                FROM words WHERE term <> ''
                GROUP BY doc_id, term
            )
            SELECT doc_id,
                   CAST(sum(occ) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   CAST(count(*) AS DOUBLE)
                     / CAST(CAST(sum(occ) AS BIGINT) AS DOUBLE) AS ttr,
                   CAST(count(*) FILTER (WHERE occ = 1) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS hapax_ratio
            FROM per_term
            GROUP BY doc_id
        """,
    )
)


# ---------------------------------------------------------------------------
# Time-series similarity search: day-of-week activity profile distance
# (shape follows "Time Series Similarity Search for Streaming Data in
# Distributed Systems", EDBT 2019 — fixed-length feature vector + top-k)
# ---------------------------------------------------------------------------

_TS_QUERY_USER = 7
_DOW = list(range(1, 8))  # Spark dayofweek: 1=Sunday .. 7=Saturday


def q_ts_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users whose weekly activity profile (7-dim day-of-week event
    count vector) is nearest the query user's, by squared L2 distance.

    Counts are integers, so the distance is EXACT int64 arithmetic — the
    one similarity query in the family with zero floating-point risk. The
    query user's 7-int profile is fetched to the driver (tiny-scalar rule:
    a 1-row pushdown-filtered job, same budget as a count()) and inlined
    as literals, so the ranking pass is ONE events scan + one conditional
    agg + TakeOrdered — no second scan, no self-join.
    """
    events = load_table(spark, "events", sf_dir)

    def profile(df):
        return df.groupBy("user_id").agg(
            *[
                F.count_if(F.dayofweek("ts") == d).alias(f"d{d}")
                for d in _DOW
            ]
        )

    target_row = (
        profile(events.filter(F.col("user_id") == _TS_QUERY_USER))
        .collect()[0]
        .asDict()
    )
    dist = None
    for d in _DOW:
        diff = F.col(f"d{d}") - F.lit(target_row[f"d{d}"])
        sq = diff * diff
        dist = sq if dist is None else dist + sq
    return (
        profile(events.filter(F.col("user_id") != _TS_QUERY_USER))
        .select("user_id", dist.alias("sq_dist"))
        .orderBy(F.col("sq_dist").asc(), F.col("user_id"))
        .limit(10)
    )


register(
    QuerySpec(
        name="ts_similarity_topk",
        description="time-series similarity search: integer-exact L2 over "
        "day-of-week activity profiles, top-10 nearest users",
        spark=q_ts_similarity_topk,
        oracle=f"""
            WITH prof AS (
                SELECT user_id,
                       {', '.join(
                           f"count(*) FILTER (WHERE dayofweek(ts) + 1 = {d})"
                           f" AS d{d}" for d in _DOW
                       )}
                FROM events GROUP BY user_id
            ), target AS (
                SELECT {', '.join(f'd{d} AS t{d}' for d in _DOW)}
                FROM prof WHERE user_id = {_TS_QUERY_USER}
            )
            SELECT user_id,
                   {' + '.join(f'(d{d} - t{d}) * (d{d} - t{d})' for d in _DOW)}
                     AS sq_dist
            FROM prof, target
            WHERE user_id <> {_TS_QUERY_USER}
            ORDER BY sq_dist ASC, user_id
            LIMIT 10
        """,
    )
)


# ---------------------------------------------------------------------------
# Token surprisal proxy: exact-integer information content per document
# ---------------------------------------------------------------------------


def q_doc_surprisal_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based information-content score: for every token
    occurrence, floor(log2(corpus_count(term))) "popularity bits"; docs
    dominated by rare tokens score low total bits per token (the same
    signal a unigram LM perplexity gives, without the log()).

    floor(log2(n)) is computed as length(binary(n)) - 1 — pure integer
    logic, exact in both engines, where a floating log2 could land an ulp
    below an exact power of two and floor() off by one. Plan: ONE explode,
    immediately compressed to (doc, term, cnt) pairs (map-side combined);
    corpus term totals derive from those deduped pairs (the shared
    exchange is reused, never a second explode of the corpus), and every
    later shuffle carries pairs, not occurrences.
    """
    docs = load_table(spark, "documents", sf_dir)
    occ = (
        docs.select(
            "doc_id",
            F.explode(F.split(X.ascii_lower("text"), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = occ.groupBy("term").agg(F.sum("cnt").alias("n"))
    bits = (F.length(F.bin(F.col("n"))) - F.lit(1)).cast("long")
    return (
        occ.join(counts.withColumn("bits", bits).drop("n"), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("bits")).alias("total_bits"),
            (
                F.sum(F.col("cnt") * F.col("bits")).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("bits_per_token"),
        )
    )


register(
    QuerySpec(
        name="doc_surprisal_bits",
        description="exact-integer unigram information content per doc "
        "(floor(log2(count)) via binary length, no FP log)",
        spark=q_doc_surprisal_bits,
        oracle="""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'))
                         AS term
                FROM documents
            ), occ AS (
                SELECT doc_id, term FROM words WHERE term <> ''
            ), counts AS (
                SELECT term,
                       length(printf('%b', count(*))) - 1 AS bits
                FROM occ GROUP BY term
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(bits) AS BIGINT) AS total_bits,
                   CAST(CAST(sum(bits) AS BIGINT) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS bits_per_token
            FROM occ JOIN counts USING (term)
            GROUP BY doc_id
        """,
    )
)


# ---------------------------------------------------------------------------
# mapInArrow surface: Arrow-kernel text stats, aggregated per source
# ---------------------------------------------------------------------------


def q_arrow_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third Python boundary (after pandas map/cogroup/state):
    ``mapInArrow`` with pure pyarrow.compute kernels — Arrow buffers in,
    Arrow buffers out, no pandas materialization. Integer outputs make the
    downstream per-source aggregate exact; the oracle recomputes the same
    stats with DuckDB string kernels.
    """
    from ..operators.arrowops import text_stats_arrow

    docs = load_table(spark, "documents", sf_dir)
    stats = text_stats_arrow(docs)
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_utf8").alias("total_chars"),
        F.sum("n_words").alias("total_words"),
        F.max("n_words").alias("max_words"),
    )


register(
    QuerySpec(
        name="arrow_text_stats",
        description="mapInArrow + pyarrow.compute kernels: per-source "
        "char/word totals (zero-pandas Python boundary)",
        spark=q_arrow_text_stats,
        oracle="""
            SELECT source,
                   count(*) AS n_docs,
                   -- length() = codepoints, matching pc.utf8_length on the
                   -- Spark side (strlen is bytes: diverges on non-ASCII)
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(length(regexp_extract_all(text, '[a-zA-Z0-9]+')))
                        AS BIGINT) AS total_words,
                   CAST(max(length(regexp_extract_all(text, '[a-zA-Z0-9]+')))
                        AS BIGINT) AS max_words
            FROM documents
            GROUP BY source
        """,
    )
)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of keyword + vector top-k
# ---------------------------------------------------------------------------

_RRF_K = 60.0  # standard RRF damping constant
_RRF_DEPTH = 20  # depth of each input ranked list
_RRF_OUT = 10


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the TF-IDF keyword top-20 (documents) and the
    exact cosine top-20 (embeddings — the tables share the 0..N id space)
    by reciprocal-rank fusion: rrf(d) = sum over lists of 1/(60 + rank).

    RRF works on RANKS, not scores, so the two lists' incomparable score
    scales never mix — only the integer ranks (deterministic via score
    then id tiebreaks) enter the fusion, and the one double expression
    that combines them is fixed-order on both engines. The ranked lists
    are both tiny (depth 20), so the row_number windows and the full
    outer join run on driver-trivial data; all heavy lifting happened in
    the upstream top-k queries (TakeOrdered scans, no global sort).
    """
    kw_top = q_keyword_search_topk(spark, sf_dir).select("doc_id", "score")
    w_kw = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    kw = kw_top.select(
        "doc_id", F.row_number().over(w_kw).alias("kw_rank")
    )
    emb = load_table(spark, "embeddings", sf_dir)
    vec_top = S.brute_force_topk(emb, QUERY_VEC, k=_RRF_DEPTH)
    w_vec = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    vec = vec_top.select(
        "vec_id", F.row_number().over(w_vec).alias("vec_rank")
    )
    fused = kw.join(vec, kw.doc_id == vec.vec_id, "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("kw_rank").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank").cast("double")),
        F.lit(0.0),
    )
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            "kw_rank",
            "vec_rank",
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_RRF_OUT)
    )


register(
    QuerySpec(
        name="hybrid_rrf_search",
        description="reciprocal-rank fusion of TF-IDF keyword top-20 and "
        "exact cosine top-20 (rank-only fusion, fixed-order double)",
        spark=q_hybrid_rrf_search,
        oracle=f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9]+'))
                         AS term
                FROM documents
            ), tf AS (
                SELECT doc_id,
                       count(*) FILTER (WHERE term = 'join') AS tf_join,
                       count(*) FILTER (WHERE term = 'shuffle') AS tf_shuffle,
                       count(*) FILTER (WHERE term = 'broadcast')
                         AS tf_broadcast
                FROM words
                WHERE term IN {_SEARCH_TERMS!r}
                GROUP BY doc_id
            ), dfs AS (
                SELECT count(*) FILTER (WHERE tf_join > 0) AS df_join,
                       count(*) FILTER (WHERE tf_shuffle > 0) AS df_shuffle,
                       count(*) FILTER (WHERE tf_broadcast > 0)
                         AS df_broadcast
                FROM tf
            ), n AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
            ), kw_top AS (
                SELECT doc_id,
                       CAST(tf_join AS DOUBLE)
                         * (n_docs / CAST(greatest(df_join, 1) AS DOUBLE))
                       + CAST(tf_shuffle AS DOUBLE)
                         * (n_docs / CAST(greatest(df_shuffle, 1) AS DOUBLE))
                       + CAST(tf_broadcast AS DOUBLE)
                         * (n_docs / CAST(greatest(df_broadcast, 1) AS DOUBLE))
                         AS score
                FROM tf, dfs, n
                ORDER BY score DESC, doc_id
                LIMIT {_RRF_DEPTH}
            ), kw AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id)
                         AS kw_rank
                FROM kw_top
            ), vec_top AS (
                SELECT vec_id,
                       list_dot_product(CAST(embedding AS DOUBLE[]),
                                        {_QUERY_SQL})
                       / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product({_QUERY_SQL},
                                                  {_QUERY_SQL})))
                         AS cos_sim
                FROM embeddings
                ORDER BY cos_sim DESC, vec_id
                LIMIT {_RRF_DEPTH}
            ), vec AS (
                SELECT vec_id,
                       row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                         AS vec_rank
                FROM vec_top
            )
            SELECT coalesce(kw.doc_id, vec.vec_id) AS doc_id,
                   kw_rank,
                   vec_rank,
                   coalesce(1.0 / ({_RRF_K!r} + CAST(kw_rank AS DOUBLE)), 0.0)
                   + coalesce(1.0 / ({_RRF_K!r} + CAST(vec_rank AS DOUBLE)), 0.0)
                     AS rrf_score
            FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.vec_id
            ORDER BY rrf_score DESC, doc_id
            LIMIT {_RRF_OUT}
        """,
    )
)


# ---------------------------------------------------------------------------
# Hard-negative mining: most-similar CROSS-label neighbor per vector
# ---------------------------------------------------------------------------


#: Adaptive RP-LSH bucket for hard-negative mining: plane budget and target
#: expected rows per bucket (no base block column here — the label is a
#: join-time inequality, not a block key). p=2 at sf0.001/0.01 (N=500),
#: p=4 at sf0.1 (N=2000, exactly the previous fixed-4-plane blocks), p=8
#: at the x10 probe (N=20000), p=9 at x30 — the x30 run against an 8-plane
#: budget measured 7.3x wall (ceiling reached, blocks growing again);
#: budget 16 (r7, was 12) holds the constant-block regime to ~8.2M
#: vectors; the r7 x100 probe (N=200k, p=11) measured 8.5x wall at 100x
#: data with the ladder mid-range.
_HN_PMAX = 16
_HN_TARGET_BLOCK = 125

#: SQL twin of the modulus ladder (ascending: first match wins).
_HN_MOD_SQL = (
    "CASE "
    + " ".join(
        f"WHEN corpus_n <= {_HN_TARGET_BLOCK << p} THEN {1 << p}"
        for p in range(_HN_PMAX)
    )
    + f" ELSE {1 << _HN_PMAX} END"
)


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every embedding, its hardest negative — the most similar vector
    carrying a DIFFERENT label — the pair-mining step of contrastive
    training (triplet/InfoNCE batches want negatives near the anchor).

    All-pairs at corpus scale is quadratic, so candidates come from a
    shared RP-LSH bucket (the deterministic h60 hyperplanes the oracle
    reproduces): the self-join keys on (bucket) with label inequality
    inside the join, cosine only on surviving pairs, and one row_number
    window per anchor picks the top with (sim desc, id) ties. The bucket
    is ADAPTIVE (adaptive_bucket_modulus ladder, budget 16 planes, target
    block 125 rows): expected bucket size stays constant as the corpus
    grows, so the self-join's pair work stays linear in N instead of
    quadratic — a fixed plane count holds bucket COUNT constant while
    bucket SIZE grows. Vectors whose bucket holds no cross-label vector
    drop out — at 100 TB you'd multi-probe neighboring buckets exactly
    like similarity_topk_lsh rather than widen to all-pairs.
    """
    emb = spread_if_narrow(load_table(spark, "embeddings", sf_dir))
    cnt = emb.agg(F.count(F.lit(1)).alias("_corpus_n"))
    emb = emb.crossJoin(F.broadcast(cnt))
    hn_mod = S.adaptive_bucket_modulus(
        F.col("_corpus_n"), _HN_TARGET_BLOCK, _HN_PMAX
    )
    # per-row inverse norm, computed ONCE before the pair join: the
    # in-pair cosine is then a single dot fold instead of three (dot +
    # both norms), cutting the verify stage's fold work ~3x. NULL for a
    # zero vector (no direction) — propagates through the product, and
    # both engines rank NULLS LAST under the DESC window order. The
    # oracle mirrors the exact arithmetic: (dot * inv_a) * inv_b.
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    self_dot = F.aggregate(
        F.transform(vd, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )
    b = emb.select(
        "vec_id",
        "label",
        "embedding",
        S.rp_lsh_bucket_guarded("embedding", _HN_PMAX, 64, hn_mod).alias(
            "bucket"
        ),
        F.when(self_dot > 0, F.lit(1.0) / F.sqrt(self_dot)).alias("inv_n"),
    )
    # pin the verify-join's width: per-pair cosine cost, not shuffle
    # bytes, drives this stage — AQE's byte-based coalescing would
    # serialize it (user repartition on the join key is AQE-exempt)
    b = b.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "bucket"
    )
    a = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
        F.col("inv_n").alias("inv_a"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("inv_n").alias("inv_b"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        c,
        (F.col("bucket") == F.col("bucket_b"))
        & (F.col("label_a") != F.col("label_b")),
    )
    dot_ab = F.aggregate(
        F.zip_with(
            F.transform(F.col("emb_a"), lambda x: x.cast("double")),
            F.transform(F.col("emb_b"), lambda x: x.cast("double")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("id_a").orderBy(
        F.desc("hard_neg_sim"), F.asc("id_b")
    )
    return (
        pairs.select(
            "id_a",
            "label_a",
            "id_b",
            "label_b",
            ((dot_ab * F.col("inv_a")) * F.col("inv_b")).alias(
                "hard_neg_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


register(
    QuerySpec(
        name="hard_negative_mining",
        description="per-vector hardest cross-label negative from the "
        "RP-LSH bucket (contrastive pair mining, bounded candidates)",
        spark=q_hard_negative_mining,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            ), sigs AS (
                SELECT vec_id, label, embedding,
                       {_guarded_sig_sql(_HN_PMAX)} AS bucket,
                       inv_n
                FROM (
                    SELECT vec_id, label, embedding,
                           {_HN_MOD_SQL} AS mod_,
                           -- per-row inverse norm, NULL for a zero vector
                           -- (mirrors Spark: the NULL propagates through
                           -- the sim product and ranks last under DESC;
                           -- never 0/0 = NaN, which DuckDB ranks FIRST)
                           CASE WHEN list_dot_product(embedding,
                                                      embedding) > 0
                                THEN 1.0
                                     / sqrt(list_dot_product(embedding,
                                                             embedding))
                           END AS inv_n
                    FROM base
                    CROSS JOIN (SELECT count(*) AS corpus_n FROM base)
                )
            ), pairs AS (
                SELECT a.vec_id AS id_a, a.label AS label_a,
                       b.vec_id AS id_b, b.label AS label_b,
                       -- same association as the Spark side:
                       -- (dot * inv_a) * inv_b
                       (list_dot_product(a.embedding, b.embedding)
                        * a.inv_n) * b.inv_n AS hard_neg_sim
                FROM sigs a JOIN sigs b
                  ON a.bucket = b.bucket AND a.label <> b.label
            )
            SELECT id_a, label_a, id_b, label_b, hard_neg_sim
            FROM (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY id_a
                           ORDER BY hard_neg_sim DESC NULLS LAST, id_b
                       ) AS rn
                FROM pairs
            )
            WHERE rn = 1
        """,
    )
)


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle + token-budget sampling
# ---------------------------------------------------------------------------

#: Seed folded into the shuffle hash: changing it is a full reshuffle.
_SHUFFLE_SEED = 20260814


def _shuffled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + (h, shard, n_tokens): md5(doc_id:seed) is the shuffle
    key; its first 2 hex chars are the shard (256 uniform shards, and
    shard order == hash-prefix order, so (shard, h) IS the global order)."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_SHUFFLE_SEED}")))
    return docs.select(
        "doc_id",
        h.alias("h"),
        F.substring(h, 1, 2).alias("shard"),
        X.bpe_token_estimate(F.col("text")).cast("long").alias("n_tokens"),
    )


def _with_global_rank(t: DataFrame) -> DataFrame:
    """Global (shuffle_rank, cum_before) WITHOUT a single-partition window:
    rank/cumsum within each of the 256 hash-prefix shards, then add
    per-shard offsets from a 256-row aggregate (same two-level scheme as
    packed_sequences above — the only global window runs over shard
    summaries, not documents)."""
    w_in = Window.partitionBy("shard").orderBy("h", "doc_id")
    t = t.withColumn("in_rank", F.row_number().over(w_in)).withColumn(
        "in_cum", F.sum("n_tokens").over(w_in.rowsBetween(Window.unboundedPreceding, 0))
    )
    shard_tot = t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")
    )
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = shard_tot.select(
        "shard",
        F.coalesce(F.sum("n").over(w_sh), F.lit(0)).alias("rank_off"),
        F.coalesce(F.sum("tok").over(w_sh), F.lit(0)).alias("tok_off"),
    )
    return t.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "n_tokens",
        (F.col("rank_off") + F.col("in_rank")).cast("long").alias("shuffle_rank"),
        (F.col("tok_off") + F.col("in_cum") - F.col("n_tokens"))
        .cast("long")
        .alias("cum_before"),
    )


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic corpus shuffle: every doc's global training
    order as rank over md5(doc_id:seed).

    Why an operator and not ORDER BY rand(): training-data order must be
    reproducible across reruns/engines and recomputable for any subset
    (resume from step k). The hash gives both; the two-level rank keeps
    the computation shuffle-light at corpus scale (no global sort of the
    full corpus — per-shard sorts plus a 256-row prefix sum).
    """
    return _with_global_rank(_shuffled_docs(spark, sf_dir)).select(
        "doc_id", "shuffle_rank"
    )


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First documents in shuffle order until 25% of the corpus token
    budget is spent: the "train on N tokens" cut every scaling-law run
    makes. A doc is kept iff the budget wasn't exhausted when its turn
    came (cum_before * 4 < total — exact integers, no division).

    The total-token scalar rides in on a broadcast cross join of a 1-row
    aggregate — no second scan of documents, no driver round-trip.
    """
    ranked = _with_global_rank(_shuffled_docs(spark, sf_dir))
    total = ranked.agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .filter(F.col("cum_before") * 4 < F.col("total_tokens"))
        .select("doc_id", "n_tokens", "shuffle_rank", "cum_before")
    )


_SHUF_SQL = f"md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}')"

register(
    QuerySpec(
        name="corpus_shuffle",
        description="seeded deterministic corpus shuffle rank via md5 "
        "(two-level shard rank, no global sort)",
        spark=q_corpus_shuffle,
        oracle=f"""
            SELECT doc_id,
                   row_number() OVER (ORDER BY {_SHUF_SQL}, doc_id)
                       AS shuffle_rank
            FROM documents
        """,
    )
)

register(
    QuerySpec(
        name="token_budget_sample",
        description="docs in shuffle order until 25% of corpus tokens "
        "(exact integer budget arithmetic)",
        spark=q_token_budget_sample,
        oracle=f"""
            WITH t AS (
                SELECT doc_id, {_SHUF_SQL} AS h,
                       CAST(len(regexp_extract_all(text, '{{bpe}}'))
                            AS BIGINT) AS n_tokens
                FROM documents
            ), r AS (
                SELECT doc_id, n_tokens,
                       row_number() OVER (ORDER BY h, doc_id)
                           AS shuffle_rank,
                       -- CAST: DuckDB types SUM(BIGINT) as HUGEINT, which
                       -- pandas renders float64 and the driver's value hash
                       -- then diverges from Spark's int64 (r5 hash-fail)
                       CAST(COALESCE(SUM(n_tokens) OVER (
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS cum_before
                FROM t
            )
            SELECT doc_id, n_tokens, shuffle_rank, cum_before
            FROM r
            WHERE cum_before * 4 < (SELECT SUM(n_tokens) FROM t)
        """.replace("{bpe}", _BPE_SQL),
    )
)


# ---------------------------------------------------------------------------
# Transitive contamination closure (recursive CTE)
# ---------------------------------------------------------------------------

#: Depth bound for the closure walk: near-dup clusters are stars/cliques
#: (diameter <= ~3); the bound also caps recursion on the cyclic
#: undirected edge list.
_CLOSURE_MAX_HOPS = 4


def q_contamination_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive decontamination: starting from seed documents (stand-in
    for an eval-set match list: original ids divisible by 10), every doc
    reachable through near-dup edges within 4 hops, with its minimum hop
    count. One contaminated doc taints its near-dups, their near-dups, and
    so on — the closure a thorough decontamination pass must remove, where
    the plain hash anti-join (`decontaminated_counts`) removes only exact
    seed matches.

    Runs as a Spark 4 recursive CTE (`WITH RECURSIVE`): each recursion
    level is one distributed join of the frontier against the edge list,
    and the depth predicate bounds the unrolling — the declarative twin of
    the driver-looped min-label propagation in operators/graph.py, checked
    against DuckDB's recursive CTE over the bit-identical pair graph.
    """
    # Eagerly materialize the pair list BEFORE the recursive plan refers
    # to it: each recursion level re-reads the edge view, and without the
    # checkpoint every level re-derives the whole LSH candidate pipeline
    # (52s -> ~13s cold at sf0.01).
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b").localCheckpoint()
    pairs.createOrReplaceTempView("_closure_pairs")
    _augmented_docs(spark, sf_dir).select("doc_id").createOrReplaceTempView(
        "_closure_docs"
    )
    return spark.sql(
        f"""
        WITH RECURSIVE edges AS (
            SELECT id_a AS u, id_b AS v FROM _closure_pairs
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM _closure_pairs
        ),
        reach(doc_id, depth) AS (
            SELECT doc_id, 0 FROM _closure_docs
            WHERE doc_id % 10 = 0 AND doc_id < {_AUG_OFFSET}
            UNION ALL
            SELECT e.v, r.depth + 1
            FROM reach r JOIN edges e ON e.u = r.doc_id
            WHERE r.depth < {_CLOSURE_MAX_HOPS}
        )
        SELECT doc_id, CAST(MIN(depth) AS INT) AS hops
        FROM reach GROUP BY doc_id
        """
    )


register(
    QuerySpec(
        name="contamination_closure",
        description="transitive near-dup contamination closure from seed "
        "docs via WITH RECURSIVE (min hop count, depth-bounded)",
        spark=q_contamination_closure,
        oracle=f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
            edges AS MATERIALIZED (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION ALL
                SELECT id_b AS u, id_a AS v FROM pairs
            ),
            aug AS ({_AUG_DOCS_SQL}),
            reach(doc_id, depth) AS (
                SELECT doc_id, 0 FROM aug
                WHERE doc_id % 10 = 0 AND doc_id < {_AUG_OFFSET}
                UNION ALL
                SELECT e.v, r.depth + 1
                FROM reach r JOIN edges e ON e.u = r.doc_id
                WHERE r.depth < {_CLOSURE_MAX_HOPS}
            )
            SELECT doc_id, CAST(MIN(depth) AS INT) AS hops
            FROM reach GROUP BY doc_id
        """,
    )
)


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage curve
# ---------------------------------------------------------------------------


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-coverage of the frequency-ranked vocabulary,
    sampled at power-of-two ranks — the curve that sizes a tokenizer
    vocab ("top-32k words cover 97% of the corpus").

    Scale shape: the corpus-sized work is one explode + hash agg (token
    counts, map-side combined). The ranking window then runs over the
    VOCAB table only — bounded by distinct-token count, orders of
    magnitude smaller than the corpus at any SF — and the log-spaced
    ``rank & (rank-1) = 0`` filter keeps the result ≤ ~40 rows no matter
    how large the vocabulary grows. Coverage is int64 token counts
    divided in one fixed-order double op, bit-identical across engines.
    """
    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(
            F.explode(F.split(X.ascii_lower("text"), r"\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.select(
        "token",
        "n",
        F.row_number().over(order).alias("vocab_size"),
        F.sum("n")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_tokens"),
        F.sum("n")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total_tokens"),
    )
    return ranked.filter(
        F.expr("(vocab_size & (vocab_size - 1)) = 0")
    ).select(
        "vocab_size",
        F.col("token").alias("boundary_token"),
        "cum_tokens",
        "total_tokens",
        (
            F.col("cum_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("coverage"),
    )


register(
    QuerySpec(
        name="vocab_coverage",
        description="frequency-ranked vocabulary coverage curve sampled at "
        "power-of-two vocab sizes (tokenizer sizing)",
        spark=q_vocab_coverage,
        oracle=r"""
            WITH counts AS (
                SELECT token, count(*) AS n FROM (
                    SELECT unnest(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'))
                           AS token
                    FROM documents
                )
                WHERE token <> ''
                GROUP BY token
            ),
            ranked AS (
                SELECT token,
                       n,
                       CAST(row_number() OVER w AS INT) AS vocab_size,
                       CAST(sum(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
                         AS cum_tokens,
                       CAST(sum(n) OVER () AS BIGINT) AS total_tokens
                FROM counts
                WINDOW w AS (ORDER BY n DESC, token ASC)
            )
            SELECT vocab_size,
                   token AS boundary_token,
                   cum_tokens,
                   total_tokens,
                   CAST(cum_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                     AS coverage
            FROM ranked
            WHERE (vocab_size & (vocab_size - 1)) = 0
        """,
    )
)


# ---------------------------------------------------------------------------
# Curriculum quota sampling: per-(source, difficulty-quartile) strata
# ---------------------------------------------------------------------------

# Docs kept per (source, difficulty-quartile) stratum. 3 so the cut BINDS
# at every shipped SF (smallest stratum is ~6 docs at sf0.001): a quota at
# or above the stratum size would keep every row and leave the hash-rank
# ordering dead code under the default oracle gate (the vacuous-validation
# class r2's ADVICE flagged); tests/test_extensions.py pins that at least
# one stratum drops rows.
_CURR_QUOTA = 3


def q_curriculum_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified curriculum sampling census: bucket each source's docs
    into length quartiles (difficulty proxy) and keep a fixed quota per
    stratum in deterministic hash order — the mixture-assembly step that
    gives a training run equal mass from every (source, difficulty) cell.

    Scale shape: quartile cut points come from the mergeable GK sketch
    (one map-side-combined agg; exact regime while a source holds <=
    accuracy rows, the convention licensed by approx_quantiles_by_type)
    and broadcast back, so the corpus is never sorted globally. The
    within-stratum rank orders by a multiplicative hash of doc_id —
    reproducible across engines and runs, unlike rand() — and the final
    census is one hash agg. No corpus-sized shuffle beyond the stratum
    window.
    """
    from .relational import _GK_ACCURACY

    docs = load_table(spark, "documents", sf_dir)
    q = F.percentile_approx("n_chars", [0.25, 0.5, 0.75], _GK_ACCURACY)
    cuts = docs.groupBy("source").agg(
        F.element_at(q, 1).alias("c1"),
        F.element_at(q, 2).alias("c2"),
        F.element_at(q, 3).alias("c3"),
    )
    difficulty = (
        F.when(F.col("n_chars") <= F.col("c1"), F.lit(1))
        .when(F.col("n_chars") <= F.col("c2"), F.lit(2))
        .when(F.col("n_chars") <= F.col("c3"), F.lit(3))
        .otherwise(F.lit(4))
    )
    u = (F.col("doc_id") * F.lit(_MIX)) % F.lit(_U_DENOM)
    ranked = (
        docs.join(F.broadcast(cuts), "source")
        .select("source", "doc_id", "n_chars", difficulty.alias("difficulty"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source", "difficulty").orderBy(
                    u.asc(), F.col("doc_id").asc()
                )
            ),
        )
    )
    kept = F.col("rn") <= F.lit(_CURR_QUOTA)
    return ranked.groupBy("source", "difficulty").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(kept).alias("n_sampled"),
        F.sum(F.when(kept, F.col("n_chars"))).alias("chars_sampled"),
    )


register(
    QuerySpec(
        name="curriculum_quota_sample",
        description="fixed quota per (source, length-quartile) stratum in "
        "deterministic hash order — curriculum mixture census",
        spark=q_curriculum_quota_sample,
        oracle=f"""
            WITH cuts AS (
                SELECT source,
                       quantile_disc(n_chars, 0.25) AS c1,
                       quantile_disc(n_chars, 0.5)  AS c2,
                       quantile_disc(n_chars, 0.75) AS c3
                FROM documents GROUP BY source
            ),
            ranked AS (
                SELECT d.source,
                       d.doc_id,
                       d.n_chars,
                       CASE WHEN d.n_chars <= c.c1 THEN 1
                            WHEN d.n_chars <= c.c2 THEN 2
                            WHEN d.n_chars <= c.c3 THEN 3
                            ELSE 4 END AS difficulty,
                       row_number() OVER (
                           PARTITION BY d.source,
                                        CASE WHEN d.n_chars <= c.c1 THEN 1
                                             WHEN d.n_chars <= c.c2 THEN 2
                                             WHEN d.n_chars <= c.c3 THEN 3
                                             ELSE 4 END
                           ORDER BY (d.doc_id * {_MIX}) % {_U_DENOM},
                                    d.doc_id
                       ) AS rn
                FROM documents d JOIN cuts c USING (source)
            )
            SELECT source,
                   difficulty,
                   count(*) AS n_docs,
                   count(*) FILTER (WHERE rn <= {_CURR_QUOTA}) AS n_sampled,
                   CAST(sum(n_chars) FILTER (WHERE rn <= {_CURR_QUOTA})
                        AS BIGINT) AS chars_sampled
            FROM ranked
            GROUP BY source, difficulty
        """,
    )
)


# ---------------------------------------------------------------------------
# MMR-diversified retrieval: greedy rerank of the brute-force top-m pool
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_K = 5


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine matching operators/dedup.py:cosine bit-for-bit
    (list_dot_product proved bit-identical to the Spark left-fold over
    12k pairs; see module docstring)."""
    return (
        f"(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))))"
    )


def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank: from the exact top-25 cosine
    pool, greedily keep 5 results balancing relevance against redundancy
    (score = λ·rel − (1−λ)·max similarity to anything already kept) — the
    diversity-selection step a retrieval or hard-negative pipeline runs
    after ANN candidate generation.

    Scale shape: the corpus-sized work is exactly the brute-force top-m
    scan (TakeOrdered, no shuffle of the full set); the greedy loop runs
    k−1 single-row argmax jobs over the CHECKPOINTED 25-row pool, each
    step inlining the winner's embedding as literals (the repo's accepted
    1-row tiny-scalar collect idiom — bounded by k·m at ANY corpus size,
    never by the data). Scores are fixed-order IEEE expressions on
    bit-identical cosines, so the oracle (same greedy unrolled as k CTE
    stages) reproduces every pick exactly.
    """
    cand = (
        load_table(spark, "embeddings", sf_dir)
        .select(
            "vec_id",
            "embedding",
            S.cosine_to_query("embedding", QUERY_VEC).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_TOPK)
        .localCheckpoint()
    )
    lam, div = F.lit(_MMR_LAMBDA), F.lit(1.0 - _MMR_LAMBDA)

    from ..operators.dedup import cosine

    picked: list[tuple[int, list[float]]] = []  # (vec_id, embedding)
    for _step in range(_MMR_K):
        rem = cand
        if picked:
            rem = rem.filter(
                ~F.col("vec_id").isin([vid for vid, _ in picked])
            )
            sims = [
                cosine(
                    F.col("embedding"),
                    F.lit([float(x) for x in vec]),
                )
                for _, vec in picked
            ]
            max_sim = F.greatest(*sims) if len(sims) > 1 else sims[0]
            rem = rem.withColumn("score", lam * F.col("rel") - div * max_sim)
        else:
            rem = rem.withColumn("score", F.col("rel"))
        row = rem.orderBy(F.desc("score"), F.asc("vec_id")).first()
        if row is None:  # pool smaller than k: keep what exists
            break
        picked.append((row.vec_id, list(row.embedding)))

    if not picked:  # empty corpus: empty result, stable schema
        return cand.select(
            F.lit(1).alias("mmr_rank"), "vec_id", "rel"
        ).limit(0)
    order = {vid: i + 1 for i, (vid, _) in enumerate(picked)}
    rank = F.coalesce(
        *[
            F.when(F.col("vec_id") == vid, F.lit(r))
            for vid, r in order.items()
        ]
    )
    return (
        cand.filter(F.col("vec_id").isin(list(order)))
        .select(rank.alias("mmr_rank"), "vec_id", "rel")
    )


def _mmr_oracle() -> str:
    lam, div = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    cos = _cos_sql("c.embedding", "s.embedding")
    parts = [
        f"""cand AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
                   {_cos_sql('CAST(embedding AS DOUBLE[])', _QUERY_SQL)} AS rel
            FROM embeddings
            ORDER BY rel DESC, vec_id
            LIMIT {_TOPK}
        )""",
        """sel1 AS (
            SELECT vec_id, 1 AS mmr_rank FROM cand
            ORDER BY rel DESC, vec_id LIMIT 1
        )""",
    ]
    prev = "sel1"
    for i in range(2, _MMR_K + 1):
        parts.append(
            f"""pick{i} AS (
                SELECT c.vec_id, {i} AS mmr_rank
                FROM cand c
                WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
                ORDER BY {lam!r} * c.rel - {div!r} * (
                    SELECT max({cos}) FROM cand s
                    WHERE s.vec_id IN (SELECT vec_id FROM {prev})
                ) DESC, c.vec_id
                LIMIT 1
            )""",
        )
        parts.append(
            f"""sel{i} AS (
                SELECT * FROM {prev}
                UNION ALL SELECT * FROM pick{i}
            )""",
        )
        prev = f"sel{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT s.mmr_rank, s.vec_id, c.rel
        FROM {prev} s JOIN cand c USING (vec_id)
        """
    )


register(
    QuerySpec(
        name="mmr_diversified_topk",
        description="maximal-marginal-relevance top-5 from the exact "
        "cosine top-25 pool (greedy λ=0.7 rerank, fully oracled)",
        spark=q_mmr_diversified_topk,
        oracle=_mmr_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Triangle census over the near-dup graph
# ---------------------------------------------------------------------------


def q_neardup_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient of the MinHash
    near-dup graph — the structural summary that distinguishes pairwise
    duplication (components of size 2, no triangles) from dense template
    families (cliques), which decide whether keep-one-per-component or
    keep-one-per-clique is the right dedup policy.

    Scale shape: the corpus-sized work is the banded-LSH pair
    generation; everything here runs on the EDGE LIST, orders of
    magnitude smaller. Triangles come from the canonical u<v<w two-hop
    join (each triangle counted once), wedges from per-node degrees —
    all exact int64 — and the closure ratio is one fixed-order double
    division.
    """
    # localCheckpoint truncates the LSH pipeline's lineage (the
    # contamination_closure idiom): the triangle self-joins then plan
    # against a materialized edge table instead of replaying the pair
    # generation per join arm — 26 shuffles down to 4. The checkpoint
    # inherits its size estimate from the plan it came from: reading the
    # pairs through a filled cache hands the planner their measured
    # (small) size, so the self-joins broadcast — 2 exchanges instead of
    # 6 against the raw LSH plan's estimate.
    pairs = _near_dup_pairs(spark, sf_dir).persist()
    try:
        e = (
            pairs.select(
                F.least("id_a", "id_b").alias("u"),
                F.greatest("id_a", "id_b").alias("v"),
            )
            .distinct()
            .localCheckpoint()
        )
    finally:
        pairs.unpersist()
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges")
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.v") == F.col("bc.u"))
        .join(
            ac,
            (F.col("ac.u") == F.col("ab.u"))
            & (F.col("ac.v") == F.col("bc.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            ).alias("clustering_coeff"),
        )
    )


register(
    QuerySpec(
        name="neardup_triangle_census",
        description="triangle count + global clustering coefficient of the "
        "near-dup graph (canonical u<v<w two-hop join on the edge list)",
        spark=q_neardup_triangle_census,
        oracle=f"""
            WITH pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
            e AS MATERIALIZED (
                SELECT DISTINCT least(id_a, id_b) AS u,
                                greatest(id_a, id_b) AS v
                FROM pairs
            ),
            deg AS MATERIALIZED (
                SELECT node, count(*) AS deg FROM (
                    SELECT u AS node FROM e
                    UNION ALL
                    SELECT v AS node FROM e
                ) GROUP BY node
            ),
            -- scalar CTEs: each heavy aggregate evaluated exactly once
            tri AS (
                SELECT count(*) AS n_triangles
                FROM e ab
                JOIN e bc ON ab.v = bc.u
                JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
            ),
            wedge AS (
                SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
                FROM deg
            )
            SELECT (SELECT count(*) FROM deg) AS n_nodes,
                   (SELECT count(*) FROM e) AS n_edges,
                   n_wedges,
                   n_triangles,
                   CASE WHEN n_wedges > 0
                        THEN 3.0 * n_triangles / n_wedges
                        END AS clustering_coeff
            FROM tri, wedge
        """,
    )
)


# ---------------------------------------------------------------------------
# Per-source quality calibration map (quantile normalization table)
# ---------------------------------------------------------------------------

#: i/10 (correctly-rounded doubles) — the SAME literals are emitted into the
#: oracle SQL; never derive them as decile*0.1 on one side only (3*0.1 !=
#: 0.3 in IEEE, which can flip the picked order statistic at a boundary).
_CAL_DECILES = [i / 10 for i in range(1, 10)]

#: The calibration map includes a GLOBAL sketch whose group is the whole
#: corpus, so the exact-regime bound must cover corpus size, not per-group
#: size — 20x the headroom of relational._GK_ACCURACY's per-type groups.
#: Exact to 1M documents (sf ~20 at current generator rates); past that
#: the sketch compresses and the oracle would need a rows-only fallback.
_CAL_ACCURACY = 1_000_000


def q_quality_calibration_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization table for per-source quality scores: the
    decile grid of each source's score distribution next to the global
    grid, with the shift between them. A single global quality threshold
    systematically over-prunes sources whose scorer runs low; this map is
    the correction a curation pipeline applies before thresholding
    (read: calibrate, THEN cut).

    Exactness/scale: scores are the deterministic ratio heuristic
    (operators/text.py:quality_score, oracle-bit-exact); every decile is
    a mergeable GK sketch order statistic — the exact-regime equality
    with DuckDB's quantile_disc is probe-verified at all nine decile
    positions over 96 size/tie cases, extending the quartile licensing
    of approx_quantiles_by_type, and pinned as a regression test
    (tests/test_properties.py). ONE map-side-combined rollup pass builds
    the per-source and global grids together, then a broadcast join on
    the 9-row grid; the corpus is never sorted.
    """
    # r11: spread the one-file scan before the regex-heavy scoring (the
    # four quality_score regexp passes per doc were single-threaded on
    # the narrow scan; GK sketches merge order-independently in the
    # exact regime, so the 32-way partial agg is value-identical).
    # Measured 0.74 s -> 0.54 s for the grids stage at sf0.1.
    docs = spread_if_narrow(load_table(spark, "documents", sf_dir)).select(
        "source", X.quality_score(F.col("text")).alias("q")
    )
    deciles = F.percentile_approx("q", _CAL_DECILES, _CAL_ACCURACY)
    # ONE corpus scan for both grids: rollup('source') emits every
    # per-source group AND the grand total from the same pass (grouping()
    # tells them apart — also distinguishing a literal NULL source), and
    # localCheckpoint materializes the ~|sources|+1 row result so the two
    # downstream references don't re-run the scoring scan — the Spark twin
    # of the oracle's AS MATERIALIZED scored CTE.
    grids = (
        docs.rollup("source")
        .agg(deciles.alias("ds"), F.grouping("source").alias("is_total"))
        .localCheckpoint()
    )
    per_source = grids.filter(F.col("is_total") == 0).select(
        "source", F.posexplode("ds").alias("idx", "source_score")
    )
    global_grid = grids.filter(F.col("is_total") == 1).select(
        F.posexplode("ds").alias("idx", "global_score")
    )
    return (
        per_source.join(F.broadcast(global_grid), "idx")
        .select(
            "source",
            (F.col("idx") + 1).alias("decile"),
            "source_score",
            "global_score",
            (F.col("global_score") - F.col("source_score")).alias(
                "calibration_shift"
            ),
        )
    )


_CAL_LIST_SQL = "[" + ", ".join(repr(d) for d in _CAL_DECILES) + "]"

register(
    QuerySpec(
        name="quality_calibration_map",
        description="per-source vs global quality-score decile grid with "
        "calibration shift (quantile normalization table)",
        spark=q_quality_calibration_map,
        oracle=f"""
            WITH scored AS MATERIALIZED (
                SELECT source, ({_QUALITY_SQL}) AS q FROM documents
            ),
            src_agg AS (
                SELECT source, quantile_disc(q, {_CAL_LIST_SQL}) AS ds
                FROM scored GROUP BY source
            ),
            per_source AS (
                SELECT source,
                       generate_subscripts(ds, 1) AS decile,
                       unnest(ds) AS source_score
                FROM src_agg
            ),
            glob_agg AS (
                SELECT quantile_disc(q, {_CAL_LIST_SQL}) AS ds FROM scored
            ),
            global_grid AS (
                SELECT generate_subscripts(ds, 1) AS decile,
                       unnest(ds) AS global_score
                FROM glob_agg
            )
            SELECT p.source, CAST(p.decile AS INT) AS decile,
                   p.source_score, g.global_score,
                   g.global_score - p.source_score AS calibration_shift
            FROM per_source p JOIN global_grid g USING (decile)
        """,
    )
)


# ---------------------------------------------------------------------------
# IVF index health: cell-occupancy census
# ---------------------------------------------------------------------------


def q_ivf_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy census of the IVF coarse cells — the index-health check
    behind similarity_topk_ivf: a cell far above load factor 1 dominates
    every probe that touches it (and, in the cell-partitioned deployment
    layout, is the oversized partition), the signal to re-train or split
    the coarse quantizer. One scan, one 8-group hash agg; the totals ride
    an unpartitioned window over the 8-row aggregate.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    counts = (
        emb.select(
            S.ivf_cell("embedding", _IVF_CENTROIDS).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    total = F.sum("n_vectors").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return counts.select(
        "cell",
        "n_vectors",
        (F.col("n_vectors").cast("double") / total.cast("double")).alias(
            "frac"
        ),
        (
            (F.col("n_vectors") * F.lit(_IVF_CELLS)).cast("double")
            / total.cast("double")
        ).alias("load_factor"),
    )


register(
    QuerySpec(
        name="ivf_cell_occupancy",
        description="IVF coarse-cell occupancy census (load factor per "
        "cell — ANN index health / partition-size check)",
        spark=q_ivf_cell_occupancy,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            ),
            dists AS (SELECT vec_id, embedding, {_IVF_DIST_COLS} FROM base),
            cells AS (
                SELECT vec_id, {_IVF_CELL_CASE} AS cell
                FROM (SELECT *, {_IVF_LEAST} AS m FROM dists)
            ),
            counts AS (
                SELECT cell, count(*) AS n_vectors FROM cells GROUP BY cell
            ),
            tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS t FROM counts)
            SELECT cell,
                   n_vectors,
                   CAST(n_vectors AS DOUBLE) / CAST(t AS DOUBLE) AS frac,
                   CAST(n_vectors * {_IVF_CELLS} AS DOUBLE)
                   / CAST(t AS DOUBLE) AS load_factor
            FROM counts, tot
        """,
    )
)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster-then-prune census over the augmented
# embeddings (planted same-direction copies), cell x 2-plane sub-buckets.
# ---------------------------------------------------------------------------

_SEMDEDUP_THRESHOLD = 0.9
#: Adaptive sub-blocking: plane BUDGET (max signature bits) and the target
#: expected rows per (cell x bucket) block. The bucket keeps the low p bits
#: of the 12-plane signature, p = smallest integer with
#: N <= _IVF_CELLS * _SEMDEDUP_TARGET_BLOCK << p — expected block size
#: stays <= 125 as the corpus grows, so in-block O(b^2) pair work scales
#: linearly with N (a fixed plane count measured 15.6x wall at 10x data on
#: the scale probe: constant block COUNT means block SIZE grows with N and
#: pair work grows as N^2). At sf0.001/0.01 (N=1000 augmented) p=0 — one
#: bucket per cell, full in-cell recall; at sf0.1 (N=4000) p=2; at the x10
#: probe (N=40000) p=6. Both engines compute p from the same exact integer
#: ladder (no libm).
_SEMDEDUP_PMAX = 16
_SEMDEDUP_TARGET_BLOCK = 125


def q_semantic_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cell prune census of D.semantic_dedup_census over embeddings
    + planted scaled copies (cosine exactly ~1 to their originals): how
    much of each semantic cluster a SemDeDup pass would drop. The planted
    copies guarantee the domination rule actually fires (a random 64-dim
    pair essentially never reaches cosine 0.9), so the census is
    non-degenerate at every SF — pinned by a pytest row-sum assertion.
    """
    return D.semantic_dedup_census(
        _augmented_embeddings(spark, sf_dir),
        _IVF_CENTROIDS,
        threshold=_SEMDEDUP_THRESHOLD,
        sub_planes=_SEMDEDUP_PMAX,
        dim=64,
        target_block=_SEMDEDUP_TARGET_BLOCK,
    )


#: Modulus ladder (ascending: first match wins), the SQL twin of the
#: operator's chained F.when — shared integer thresholds, exact on both
#: engines.
_SEMDEDUP_MOD_SQL = (
    "CASE "
    + " ".join(
        f"WHEN corpus_n <= {(_IVF_CELLS * _SEMDEDUP_TARGET_BLOCK) << p} "
        f"THEN {1 << p}"
        for p in range(_SEMDEDUP_PMAX)
    )
    + f" ELSE {1 << _SEMDEDUP_PMAX} END"
)

#: Spherical assignment twin of similarity.ivf_cell_cosine: score_i =
#: dot(v, c_i) * (1/|c_i|) with the inverse norm a shared Python literal.
_SEM_SCORE_COLS = ", ".join(
    f"(list_dot_product(embedding, {_ivf_centroid_sql(c)})"
    f" * {S.inv_norm_py(c)!r}) AS sc{i}"
    for i, c in enumerate(_IVF_CENTROIDS)
)
_SEM_GREATEST = (
    "greatest(" + ", ".join(f"sc{i}" for i in range(_IVF_CELLS)) + ")"
)
_SEM_CELL_CASE = (
    "CASE "
    + " ".join(f"WHEN sc{i} = g THEN {i}" for i in range(_IVF_CELLS))
    + " END"
)

register(
    QuerySpec(
        name="semantic_dedup_census",
        description="SemDeDup cluster-then-prune census: per-IVF-cell "
        "kept/dropped counts at cosine >= 0.9, cell x RP-LSH sub-blocks",
        spark=q_semantic_dedup_census,
        oracle=f"""
            WITH aug AS ({_AUG_EMB_SQL}),
            scores AS (SELECT vec_id, embedding, {_SEM_SCORE_COLS} FROM aug),
            cells AS MATERIALIZED (
                SELECT vec_id, embedding, cell,
                       {_guarded_sig_sql(_SEMDEDUP_PMAX)} AS bucket,
                       inv_n
                FROM (
                    SELECT vec_id, embedding, {_SEM_CELL_CASE} AS cell,
                           {_SEMDEDUP_MOD_SQL} AS mod_,
                           CASE WHEN list_dot_product(embedding,
                                                      embedding) > 0
                                THEN 1.0
                                     / sqrt(list_dot_product(embedding,
                                                             embedding))
                           END AS inv_n
                    FROM (SELECT *, {_SEM_GREATEST} AS g FROM scores)
                    CROSS JOIN (SELECT count(*) AS corpus_n FROM aug)
                )
            ),
            dropped AS (
                SELECT DISTINCT a.vec_id, a.cell
                FROM cells a JOIN cells b
                  ON a.cell = b.cell AND a.bucket = b.bucket
                     AND b.vec_id < a.vec_id
                WHERE list_dot_product(a.embedding, b.embedding)
                      * a.inv_n * b.inv_n
                      >= {_SEMDEDUP_THRESHOLD!r}
            ),
            counts AS (
                SELECT cell, count(*) AS n_vectors FROM cells GROUP BY cell
            ),
            drops AS (
                SELECT cell, count(*) AS n_dropped FROM dropped GROUP BY cell
            )
            SELECT c.cell,
                   CAST(c.n_vectors AS BIGINT) AS n_vectors,
                   CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
                   CAST(c.n_vectors - coalesce(d.n_dropped, 0) AS BIGINT)
                     AS n_kept,
                   CAST(coalesce(d.n_dropped, 0) AS DOUBLE)
                   / CAST(c.n_vectors AS DOUBLE) AS dup_frac
            FROM counts c LEFT JOIN drops d USING (cell)
        """,
    )
)


# ---------------------------------------------------------------------------
# Leakage-safe splits: assign train/val/test by GROUP, never by document
# ---------------------------------------------------------------------------


_SPLIT_WEIGHTS = {"train": 90, "val": 5, "test": 5}


def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak duplicates across
    splits: the split hash is taken on each document's exact-dup
    CANONICAL id, so every copy of a document lands in the same split
    (hash the doc_id instead and an eval-set document's twin sits in
    train — the contamination the split exists to prevent). Verbatim
    copies are planted so the guard provably binds.

    Output: per (split) doc/group counts plus ``groups_split_across``,
    which is 0 BY CONSTRUCTION here and >0 for the naive per-doc hash —
    the invariant is the point, and the oracle checks it end-to-end.
    90/5/5 via the same salted-h60 split primitive as corpus_splits
    (operators.cleaning.hash_split — one proven Spark+SQL pair, not a
    second split implementation to keep in sync).

    Scale: the canonical id comes from operators.dedup.exact_dedup (the
    same sha256 groupBy the dedup census runs — one shuffle, and split
    assignment can never diverge from the census it mirrors). Near-dup
    (MinHash) grouping slots in by swapping the canonical-id source for
    neardup_keep_best's survivor map — same shape, costlier candidates.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    aug = docs.unionByName(
        docs.select((F.col("doc_id") + _AUG_OFFSET).alias("doc_id"), "text")
    )
    assigned = D.exact_dedup(aug).select(
        "doc_id",
        "content_hash",
        C.hash_split(
            "canonical_id", _SPLIT_WEIGHTS, salt="leakage"
        ).alias("split"),
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("content_hash").alias("n_groups"),
    )
    across = (
        assigned.groupBy("content_hash")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.count_if(F.col("n_splits") > 1).alias("groups_split_across")
        )
    )
    return per_split.crossJoin(F.broadcast(across))


register(
    QuerySpec(
        name="leakage_safe_splits",
        description="train/val/test by canonical-id hash: dup groups "
        "never straddle splits (violations column pinned 0)",
        spark=q_leakage_safe_splits,
        oracle=f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET}, text FROM documents
            ),
            hashed AS (
                SELECT doc_id, sha256(text) AS content_hash FROM aug
            ),
            canon AS (
                SELECT content_hash, min(doc_id) AS canonical_id
                FROM hashed GROUP BY content_hash
            ),
            assigned AS (
                SELECT h.doc_id, h.content_hash,
                       {C.hash_split_sql('c.canonical_id', _SPLIT_WEIGHTS,
                                         salt='leakage')} AS split
                FROM hashed h JOIN canon c USING (content_hash)
            ),
            per_split AS (
                SELECT split, count(*) AS n_docs,
                       count(DISTINCT content_hash) AS n_groups
                FROM assigned GROUP BY split
            ),
            across AS (
                SELECT count(*) FILTER (WHERE n_splits > 1)
                         AS groups_split_across
                FROM (SELECT content_hash,
                             count(DISTINCT split) AS n_splits
                      FROM assigned GROUP BY content_hash)
            )
            SELECT split, n_docs, n_groups, groups_split_across
            FROM per_split, across
        """,
    )
)


# ---------------------------------------------------------------------------
# Split-half centroid drift: exact distributed vector mean, per label
# ---------------------------------------------------------------------------

#: Vectors per fold shard (level-1 collect is bounded by this regardless
#: of corpus size; 256 x 64 doubles ~ 128 KB per collected row).
_CENT_SHARD = 256


def q_label_centroid_parity_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half self-consistency of each label's embedding centroid:
    partition every label's vectors by vec_id parity, compute both half
    centroids EXACTLY, and report their cosine. A healthy, homogeneous
    label has cos ~ 1; a label whose cosine sags is multi-modal or
    contaminated — the cheap pre-flight check before trusting per-label
    centroids for classification or dedup.

    Float summation order differs between engines, so the centroid sum
    runs as the house two-level ORDERED fold (the daily_trend_slope /
    ewma licensing): level 1 folds each <=256-vector shard in vec_id
    order (seeded with the FIRST element on both engines), level 2
    folds the shard partials in shard order. Every addition is a double
    op on identical values in identical order -> bit-identical sums.
    Cosine is scale-invariant, so the mean's division never happens:
    cos(sum_even, sum_odd) with a 0.0-seeded dot fold (0.0+x == x, so
    it agrees with DuckDB's first-element seeding) and one
    sqrt-product-division mirrored verbatim.

    Scale: one shuffle to (label, parity, shard) groups with BOUNDED
    per-row state, a tiny level-2 agg, and a 10-row self-join — the
    same shape at 100 TB, no unbounded collect anywhere.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("parity"),
        F.floor(F.col("vec_id") / _CENT_SHARD).cast("long").alias("shard"),
        F.col("vec_id"),
        vecd.alias("v"),
    )
    lvl1 = base.groupBy("label", "parity", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("pcnt"),
        F.sort_array(
            F.collect_list(F.struct(F.col("vec_id"), F.col("v")))
        ).alias("vs"),
    )
    vadd = lambda a, b: F.zip_with(a, b, lambda x, y: x + y)
    psum = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1).getField("v"),
        lambda acc, s: vadd(acc, s.getField("v")),
    )
    lvl2 = (
        lvl1.select("label", "parity", "shard", "pcnt", psum.alias("ps"))
        .groupBy("label", "parity")
        .agg(
            F.sum("pcnt").cast("long").alias("n_vecs"),
            F.sort_array(
                F.collect_list(F.struct(F.col("shard"), F.col("ps")))
            ).alias("shards"),
        )
    )
    total = F.aggregate(
        F.slice(
            F.col("shards"), 2, F.greatest(F.size("shards") - 1, F.lit(0))
        ),
        F.element_at(F.col("shards"), 1).getField("ps"),
        lambda acc, s: vadd(acc, s.getField("ps")),
    )
    halves = lvl2.select("label", "parity", "n_vecs", total.alias("s"))
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    e = halves.filter(F.col("parity") == 0).alias("e")
    o = halves.filter(F.col("parity") == 1).alias("o")
    return e.join(o, F.col("e.label") == F.col("o.label")).select(
        F.col("e.label").alias("label"),
        F.col("e.n_vecs").alias("n_even"),
        F.col("o.n_vecs").alias("n_odd"),
        (
            dot(F.col("e.s"), F.col("o.s"))
            / (
                F.sqrt(dot(F.col("e.s"), F.col("e.s")))
                * F.sqrt(dot(F.col("o.s"), F.col("o.s")))
            )
        ).alias("cos_drift"),
    )


def _centroid_drift_oracle() -> str:
    vadd = (
        f"(p, q) -> list_transform(range(1, {_EMB_DIM + 1}), i -> p[i] + q[i])"
    )
    dot = (
        lambda a, b: f"list_reduce(list_transform(range(1, {_EMB_DIM + 1}),"
        f" i -> {a}[i] * {b}[i]), (p, q) -> p + q)"
    )
    return f"""
            WITH base AS (
                SELECT label,
                       vec_id % 2 AS parity,
                       vec_id // {_CENT_SHARD} AS shard,
                       vec_id,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ), lvl1 AS (
                SELECT label, parity, shard,
                       CAST(count(*) AS BIGINT) AS pcnt,
                       list_reduce(
                           list_transform(
                               list(struct_pack(k := vec_id, v := v)
                                    ORDER BY vec_id),
                               s -> s.v),
                           {vadd}) AS ps
                FROM base GROUP BY label, parity, shard
            ), lvl2 AS (
                SELECT label, parity,
                       CAST(sum(pcnt) AS BIGINT) AS n_vecs,
                       list_reduce(
                           list_transform(
                               list(struct_pack(k := shard, v := ps)
                                    ORDER BY shard),
                               s -> s.v),
                           {vadd}) AS s
                FROM lvl1 GROUP BY label, parity
            )
            SELECT e.label AS label,
                   e.n_vecs AS n_even,
                   o.n_vecs AS n_odd,
                   {dot('e.s', 'o.s')}
                     / (sqrt({dot('e.s', 'e.s')}) * sqrt({dot('o.s', 'o.s')}))
                     AS cos_drift
            FROM lvl2 e JOIN lvl2 o ON e.label = o.label
            WHERE e.parity = 0 AND o.parity = 1
        """


register(
    QuerySpec(
        name="label_centroid_parity_drift",
        description="split-half label centroid cosine (exact two-level "
        "ordered vector fold; bounded per-shard collect)",
        spark=q_label_centroid_parity_drift,
        oracle=_centroid_drift_oracle(),
    )
)


# ---------------------------------------------------------------------------
# r10: batching / class-balance / tokenizer observability
# ---------------------------------------------------------------------------


def q_padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-batch waste per power-of-two length bucket — the batching
    audit a sequence-packing pipeline reads before picking bucket
    boundaries: docs padded to the next power of two, per-bucket doc
    count, real chars, padded chars, and the waste ratio.

    Exactness: the bucket is pure integer bit arithmetic — smallest
    power of two >= n_chars is ``1 << bit_length(n_chars - 1)`` (the
    fplog2.py ``length(bin(x))`` trick, probe-verified identical on
    both engines), with n_chars <= 1 pinned to bucket 1. The waste
    ratio is ONE exact int64 division. int64 bound: bucket * n_docs
    per bucket — at 2^21-char docs that allows ~4.4e12 docs per bucket
    before overflow; past that, aggregate per-shard and re-sum.

    Plan: one scan, one ~20-row hash agg (map-side combined).
    """
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.expr(
        "CASE WHEN n_chars <= 1 THEN CAST(1 AS BIGINT) "
        "ELSE shiftleft(CAST(1 AS BIGINT), "
        "CAST(length(bin(n_chars - 1)) AS INT)) END"
    )
    return (
        docs.select(
            bucket.alias("bucket"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_chars",
            (F.col("bucket") * F.col("n_docs")).alias("padded_chars"),
            (
                (F.col("bucket") * F.col("n_docs") - F.col("sum_chars"))
                .cast("double")
                / (F.col("bucket") * F.col("n_docs")).cast("double")
            ).alias("waste_ratio"),
        )
    )


register(
    QuerySpec(
        name="padding_waste_buckets",
        description="padded-batch waste per power-of-two length bucket "
        "(exact bit-arithmetic buckets; batching-efficiency audit)",
        spark=q_padding_waste_buckets,
        oracle="""
            WITH b AS (
                SELECT CASE WHEN n_chars <= 1 THEN CAST(1 AS BIGINT)
                            ELSE CAST(1 AS BIGINT)
                                 << CAST(length(bin(n_chars - 1)) AS INTEGER)
                       END AS bucket,
                       CAST(n_chars AS BIGINT) AS n_chars
                FROM documents
            ), agg AS (
                SELECT bucket,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS sum_chars
                FROM b GROUP BY bucket
            )
            SELECT bucket, n_docs, sum_chars,
                   bucket * n_docs AS padded_chars,
                   CAST(bucket * n_docs - sum_chars AS DOUBLE)
                   / CAST(bucket * n_docs AS DOUBLE) AS waste_ratio
            FROM agg
        """,
    )
)


def q_label_effective_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance report over the embedding labels: label count,
    vector count, Herfindahl concentration sum(n_i^2)/N^2, and the
    effective number of classes N^2/sum(n_i^2) (inverse-Simpson — the
    "how many balanced classes is this really" number a sampler reads
    before reweighting), plus the largest label's exact share.

    Exactness: all-int64 aggregation; the three ratios are single
    divisions of exact int64 casts (correctly rounded, both engines).
    int64 bound: sum(n_i^2) and N^2 stay exact while N < 3.03e9
    vectors; past that, apportion per-shard and combine the shard
    moments (sums of n_i and n_i^2 add exactly).

    Plan: one scan, one small per-label agg, one 1-row reduce.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.sum("n").cast("long").alias("n_vecs"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.max("n").cast("long").alias("max_label_vecs"),
    ).select(
        "n_labels",
        "n_vecs",
        "sum_sq",
        "max_label_vecs",
        (
            F.col("sum_sq").cast("double")
            / (F.col("n_vecs") * F.col("n_vecs")).cast("double")
        ).alias("herfindahl"),
        (
            (F.col("n_vecs") * F.col("n_vecs")).cast("double")
            / F.col("sum_sq").cast("double")
        ).alias("effective_classes"),
        (
            F.col("max_label_vecs").cast("double")
            / F.col("n_vecs").cast("double")
        ).alias("max_share"),
    )


register(
    QuerySpec(
        name="label_effective_classes",
        description="class-balance report: Herfindahl concentration + "
        "effective class count (inverse Simpson) over embedding labels",
        spark=q_label_effective_classes,
        oracle="""
            WITH c AS (
                SELECT label, CAST(count(*) AS BIGINT) AS n
                FROM embeddings GROUP BY label
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_labels,
                       CAST(sum(n) AS BIGINT) AS n_vecs,
                       CAST(sum(n * n) AS BIGINT) AS sum_sq,
                       CAST(max(n) AS BIGINT) AS max_label_vecs
                FROM c
            )
            SELECT n_labels, n_vecs, sum_sq, max_label_vecs,
                   CAST(sum_sq AS DOUBLE)
                   / CAST(n_vecs * n_vecs AS DOUBLE) AS herfindahl,
                   CAST(n_vecs * n_vecs AS DOUBLE)
                   / CAST(sum_sq AS DOUBLE) AS effective_classes,
                   CAST(max_label_vecs AS DOUBLE)
                   / CAST(n_vecs AS DOUBLE) AS max_share
            FROM agg
        """,
    )
)


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility — chars per BPE-ish token and
    BPE tokens per whitespace word, the two ratios that decide how a
    byte budget converts to a token budget per language (fertility
    drifts hard across scripts; a mixer that ignores it misallocates
    multilingual quotas).

    Reuses token_count_bpe's lookahead-free GPT2-style pre-tokenizer
    (operators/text.py BPE_PATTERN — RE2 and Java regex count it
    identically). Integer sums are exact; the ratios are single exact
    int64 -> double divisions, NULL-guarded for empty groups.

    Plan: one scan, per-row regexp counts inside codegen, one ~4-row
    map-side-combined agg.
    """
    docs = load_table(spark, "documents", sf_dir)
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("sum_chars"),
        F.sum(X.ws_token_count(F.col("text")).cast("long"))
        .cast("long")
        .alias("sum_ws_tokens"),
        F.sum(X.bpe_token_estimate(F.col("text")).cast("long"))
        .cast("long")
        .alias("sum_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_ws_tokens",
        "sum_bpe_tokens",
        F.when(
            F.col("sum_bpe_tokens") > 0,
            F.col("sum_chars").cast("double")
            / F.col("sum_bpe_tokens").cast("double"),
        ).alias("chars_per_bpe_token"),
        F.when(
            F.col("sum_ws_tokens") > 0,
            F.col("sum_bpe_tokens").cast("double")
            / F.col("sum_ws_tokens").cast("double"),
        ).alias("bpe_per_ws_token"),
    )


_BPE_RX_SQL = X.BPE_PATTERN.replace("'", "''")

register(
    QuerySpec(
        name="tokenizer_fertility_by_lang",
        description="per-language tokenizer fertility: chars per BPE-ish "
        "token + BPE tokens per whitespace word (byte->token budgeting)",
        spark=q_tokenizer_fertility,
        oracle=f"""
            WITH agg AS (
                SELECT lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                       CAST(sum(len(regexp_extract_all(text, '\\S+')))
                            AS BIGINT) AS sum_ws_tokens,
                       CAST(sum(len(regexp_extract_all(text, '{_BPE_RX_SQL}')))
                            AS BIGINT) AS sum_bpe_tokens
                FROM documents GROUP BY lang
            )
            SELECT lang, n_docs, sum_chars, sum_ws_tokens, sum_bpe_tokens,
                   CASE WHEN sum_bpe_tokens > 0
                        THEN CAST(sum_chars AS DOUBLE)
                             / CAST(sum_bpe_tokens AS DOUBLE) END
                     AS chars_per_bpe_token,
                   CASE WHEN sum_ws_tokens > 0
                        THEN CAST(sum_bpe_tokens AS DOUBLE)
                             / CAST(sum_ws_tokens AS DOUBLE) END
                     AS bpe_per_ws_token
            FROM agg
        """,
    )
)


def q_minhash_estimator_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration — per signature-match count m (the
    only values the k=8 estimator can take), how far the estimated
    Jaccard m/k sits from the EXACT shingle Jaccard over the LSH
    candidate pairs. This is the estimator-quality audit a 100 TB dedup
    run reads before trusting banding parameters: a drifting mean error
    at some m means the s-curve assumption (independent permutations)
    is off for this corpus and k/bands need retuning.

    Exactness discipline: the exact Jaccard a/b is compared in FIXED
    POINT — jac_fp = (10000*a) div b (integer floor division, identical
    on both engines) against est_fp = 1250*m (= 10000*m/8 exactly), so
    per-pair errors are int64 and their sums are exact; the two output
    means are single int64 -> double divisions. int64 bound: 10000 *
    intersection per pair and the per-bucket error sums are safely
    inside int64 for any real candidate set (pairs_per_bucket < 9.2e14).

    Plan: same shingle -> sign -> capped-band candidates spine as
    minhash_lsh_neardups (reference: operators/dedup.py), two
    signature/shingle joins, then ONE ~9-row hash agg; candidates are
    bucket-capped so pair work stays corpus-linear.
    """
    # Spread before the tokenize/signature pipeline: this audit rebuilds
    # the spine outside minhash_near_dups, and both localCheckpoints
    # MATERIALIZE on the input's width, otherwise the 2-task union scan
    # (3.87 s measured that way).
    docs = spread_if_narrow(_augmented_docs(spark, sf_dir))
    shingled = D.shingle_docs(
        docs.filter(F.size(X.tokenize(F.col("text"))) >= F.lit(_MH_NGRAM)),
        "text",
        "doc_id",
        _MH_NGRAM,
    ).localCheckpoint()
    signed = shingled.select(
        "doc_id",
        D.minhash_signature(F.col("shingles"), _MH_K).alias("signature"),
    ).localCheckpoint()
    pairs = D.lsh_candidate_pairs(
        signed, _MH_K, _MH_BANDS, max_bucket=_MH_MAX_BUCKET
    )
    sa = signed.select(
        F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a")
    )
    sb = signed.select(
        F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b")
    )
    ha = shingled.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    hb = shingled.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("long")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    per_pair = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            matches.alias("m"),
            (F.lit(10_000) * inter).cast("long").alias("_scaled"),
            union.alias("_union"),
        )
        .select(
            "m",
            F.expr("_scaled div _union").cast("long").alias("jac_fp"),
        )
    )
    return (
        per_pair.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("jac_fp")).cast("long").alias("sum_jac_fp"),
            F.sum(F.abs(F.lit(1250) * F.col("m") - F.col("jac_fp")))
            .cast("long")
            .alias("sum_err_fp"),
        )
        .select(
            F.col("m").alias("sig_matches"),
            (F.col("m").cast("double") / F.lit(8.0)).alias("est_jaccard"),
            "n_pairs",
            (
                F.col("sum_jac_fp").cast("double")
                / (F.lit(10_000) * F.col("n_pairs")).cast("double")
            ).alias("mean_exact_jaccard"),
            (
                F.col("sum_err_fp").cast("double")
                / (F.lit(10_000) * F.col("n_pairs")).cast("double")
            ).alias("mean_abs_error"),
        )
    )


register(
    QuerySpec(
        name="minhash_estimator_calibration",
        description="MinHash estimate (m/8) vs exact Jaccard per "
        "signature-match count over LSH candidates — fixed-point error "
        "sums, the dedup estimator-quality audit",
        spark=q_minhash_estimator_calibration,
        oracle=f"""
            WITH aug AS ({_AUG_DOCS_SQL}),
            sh AS (
                SELECT doc_id,
                       {_shingles_sql(_TOKENS_SQL, _MH_NGRAM)} AS shingles
                FROM aug
            ),
            sh2 AS MATERIALIZED (
                SELECT * FROM sh WHERE len(shingles) > 0
            ),
            sig AS MATERIALIZED (
                SELECT doc_id, shingles, [{_MH_SIG_ENTRIES}] AS mh FROM sh2
            ),
            bands AS (
                SELECT doc_id, band_id, band_hashes[band_id + 1] AS band_hash
                FROM (SELECT doc_id, [{_MH_BAND_ENTRIES}] AS band_hashes
                      FROM sig),
                     range({_MH_BANDS}) r(band_id)
            ),
            bok AS (
                SELECT band_id, band_hash FROM bands
                GROUP BY band_id, band_hash HAVING count(*) <= {_MH_MAX_BUCKET}
            ),
            bands2 AS (
                SELECT b.* FROM bands b JOIN bok USING (band_id, band_hash)
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM bands2 l JOIN bands2 r
                  ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                     AND l.doc_id < r.doc_id
            ),
            per_pair AS (
                SELECT CAST(len(list_filter(range(1, {_MH_K} + 1),
                                i -> a.mh[i] = b.mh[i])) AS BIGINT) AS m,
                       CAST(10000 * len(list_intersect(a.shingles, b.shingles))
                            AS BIGINT)
                       // CAST(len(list_distinct(
                              list_concat(a.shingles, b.shingles)))
                            AS BIGINT) AS jac_fp
                FROM cand c
                JOIN sig a ON c.id_a = a.doc_id
                JOIN sig b ON c.id_b = b.doc_id
            )
            SELECT m AS sig_matches,
                   CAST(m AS DOUBLE) / 8.0 AS est_jaccard,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(jac_fp) AS DOUBLE)
                   / CAST(10000 * count(*) AS DOUBLE) AS mean_exact_jaccard,
                   CAST(sum(abs(1250 * m - jac_fp)) AS DOUBLE)
                   / CAST(10000 * count(*) AS DOUBLE) AS mean_abs_error
            FROM per_pair
            GROUP BY m
        """,
    )
)


# ---------------------------------------------------------------------------
# Zipf law fit: fixed-point log-log OLS slope of the rank/frequency curve
# ---------------------------------------------------------------------------


def q_zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: OLS slope of log2(frequency) against
    log2(rank) over the term frequency table — the distribution-shape
    audit a corpus-mixing pipeline reads to spot degenerate sources
    (template spam reads near 0, natural text near -1).

    Exactness: both logs are fp_log2 (functions/fplog2.py) — exact
    1/256-bit fixed point, no libm on either engine — so the OLS
    moment sums are all-int64 and the slope is ONE exact int64/int64
    double division. int64 bound: vocab * sxy needs
    V^2 * (256*log2 V) * (256*log2 maxfreq) < 2^63, which holds to
    V ~ 4e5 terms per source at trillion-token frequencies — the
    realistic ceiling for a BPE-ish vocab; for raw-word vocabs beyond
    it, center the logs per source first (two passes) and the moments
    drop by ~V.

    Plan: explode tokens -> per-(source, term) count (map-side
    combined, the only corpus-sized shuffle) -> per-source rank window
    over the vocab-sized aggregate -> 5-moment agg -> 20-row result.
    """
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        "source",
        F.explode(F.split(X.ascii_lower("text"), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    counts = words.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    ranked = counts.select(
        "source", "n", F.row_number().over(w).cast("long").alias("rnk")
    )
    logs = ranked.select(
        "source", fp_log2("rnk").alias("x"), fp_log2("n").alias("y")
    )
    agg = logs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("vocab") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("vocab") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "source",
        "vocab",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("zipf_slope"),
    )


register(
    QuerySpec(
        name="zipf_slope_by_source",
        description="Zipf-law fit per source: fixed-point log-log OLS "
        "slope of the term rank/frequency curve (distribution-shape "
        "audit for corpus mixing)",
        spark=q_zipf_slope_by_source,
        oracle=f"""
            WITH words AS (
                SELECT source, unnest({_TOKENS_SQL}) AS term
                FROM documents
            ), counts AS (
                SELECT source, term, CAST(count(*) AS BIGINT) AS n
                FROM words GROUP BY source, term
            ), ranked AS (
                SELECT source, n,
                       CAST(row_number() OVER (
                            PARTITION BY source
                            ORDER BY n DESC, term ASC) AS BIGINT) AS rnk
                FROM counts
            ), logs AS (
                SELECT source,
                       CAST({fp_log2_sql('rnk', 'duckdb')} AS BIGINT) AS x,
                       CAST({fp_log2_sql('n', 'duckdb')} AS BIGINT) AS y
                FROM ranked
            ), agg AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS vocab,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(x * y) AS BIGINT) AS sxy
                FROM logs GROUP BY source
            )
            SELECT source, vocab,
                   vocab * sxy - sx * sy AS slope_num,
                   vocab * sxx - sx * sx AS slope_den,
                   CASE WHEN vocab * sxx - sx * sx <> 0
                        THEN CAST(vocab * sxy - sx * sy AS DOUBLE)
                             / CAST(vocab * sxx - sx * sx AS DOUBLE)
                   END AS zipf_slope
            FROM agg
        """,
    )
)


# ---------------------------------------------------------------------------
# N-gram novelty: first-occurrence attribution in ingestion order
# ---------------------------------------------------------------------------


def q_ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty per source: of each source's per-doc
    distinct 5-gram occurrences, how many are the gram's FIRST
    appearance corpus-wide in doc_id (ingestion) order — the "how much
    new content does this source actually add" census behind
    incremental-crawl triage, the attribution twin of
    source_overlap_matrix's symmetric shared-gram counts.

    Exactness: grams are the shared h60 5-gram hashes; the first
    occurrence is min(doc_id) per gram, attributed via Spark
    min(struct(doc_id, source)) == DuckDB arg_min(source, doc_id) —
    deterministic because (gram, doc_id) pairs are distinct, so the
    min is unique. novelty_rate is ONE exact int64 division.

    Plan: explode per-doc-distinct grams (word_ngrams array_distincts
    in the generate, no separate distinct shuffle) -> per-source total
    (map-side combined) and per-gram min-struct agg (the one
    gram-keyed shuffle) -> regroup the gram aggregate by source ->
    20x20 broadcast join. No fact-to-fact join anywhere.
    """
    docs = spread_if_narrow(load_table(spark, "documents", sf_dir))
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(X.word_ngrams(X.tokenize(F.col("text")), 5)).alias("gram"),
    ).select("doc_id", "source", X.h60(F.col("gram")).alias("g"))
    totals = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    firsts = grams.groupBy("g").agg(
        F.min(F.struct("doc_id", "source")).alias("first")
    )
    novel = firsts.groupBy(F.col("first.source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    return (
        totals.join(F.broadcast(novel), "source", "left")
        .select(
            "source",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "source",
            "n_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty_rate"),
        )
    )


register(
    QuerySpec(
        name="ngram_novelty_by_source",
        description="first-occurrence 5-gram novelty per source in "
        "ingestion order (incremental-crawl value census)",
        spark=q_ngram_novelty_by_source,
        oracle=f"""
            WITH grams AS (
                SELECT doc_id, source, {h60_sql('gram')} AS g
                FROM (SELECT doc_id, source,
                             unnest({_shingles_sql(_TOKENS_SQL, 5)}) AS gram
                      FROM documents)
            ), tot AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_grams
                FROM grams GROUP BY source
            ), firsts AS (
                SELECT g, arg_min(source, doc_id) AS first_source
                FROM grams GROUP BY g
            ), nov AS (
                SELECT first_source AS source,
                       CAST(count(*) AS BIGINT) AS n_novel
                FROM firsts GROUP BY first_source
            )
            SELECT t.source, t.n_grams,
                   COALESCE(n.n_novel, CAST(0 AS BIGINT)) AS n_novel,
                   CAST(COALESCE(n.n_novel, 0) AS DOUBLE)
                   / CAST(t.n_grams AS DOUBLE) AS novelty_rate
            FROM tot t LEFT JOIN nov n ON t.source = n.source
        """,
    )
)


# ---------------------------------------------------------------------------
# ANN recall audit: approximate paths scored against the exact top-k
# ---------------------------------------------------------------------------


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of both approximate ANN paths (multi-probe RP-LSH and
    IVF cell probe) against the exact brute-force cosine top-25 for the
    fixed query vector — the index-quality audit that decides probe
    widths before an ANN index serves retrieval at scale, the
    similarity-family twin of minhash_estimator_calibration.

    Exactness: all three pipelines are the already-oracled deterministic
    ones (shared QUERY_VEC / plane / centroid literals); the overlap is
    an exact 25-row id join and recall is ONE division by the literal k.

    Plan: three corpus scans (one per pipeline, each ending in a 25-row
    TakeOrdered — no global sort); the exact result is localCheckpointed
    once so the two overlap joins (both broadcast, 25x25) reuse it
    instead of re-scanning the corpus.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    brute = (
        S.brute_force_topk(emb, QUERY_VEC, k=_TOPK)
        .select("vec_id")
        .localCheckpoint()
    )
    lsh = S.lsh_topk(
        emb, QUERY_VEC, k=_TOPK, num_planes=_LSH_PLANES, dim=64,
        n_probe_bits=_LSH_PROBE_BITS,
    ).select("vec_id")
    ivf = S.ivf_topk(
        emb, QUERY_VEC, k=_TOPK, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
        dim=64,
    ).select("vec_id")

    def hits(approx: DataFrame, method: str) -> DataFrame:
        return (
            approx.join(F.broadcast(brute), "vec_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .select(
                F.lit(method).alias("method"),
                "n_hits",
                (
                    F.col("n_hits").cast("double") / F.lit(float(_TOPK))
                ).alias("recall_at_k"),
            )
        )

    return hits(lsh, "rp_lsh").unionByName(hits(ivf, "ivf"))


register(
    QuerySpec(
        name="ann_recall_audit",
        description="recall@25 of the RP-LSH and IVF ANN paths vs the "
        "exact brute-force top-25 (index-quality audit)",
        spark=q_ann_recall_audit,
        oracle=f"""
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            ),
            brute AS MATERIALIZED (
                SELECT vec_id,
                       list_dot_product(embedding, {_QUERY_SQL})
                       / (sqrt(list_dot_product(embedding, embedding))
                          * sqrt(list_dot_product({_QUERY_SQL},
                                                  {_QUERY_SQL})))
                         AS cos_sim
                FROM base
                ORDER BY cos_sim DESC, vec_id
                LIMIT {_TOPK}
            ),
            sigs AS (
                SELECT vec_id, embedding, {_LSH_SIG_SQL} AS bucket FROM base
            ),
            lsh AS (
                SELECT vec_id,
                       list_dot_product(embedding, {_QUERY_SQL})
                       / (sqrt(list_dot_product(embedding, embedding))
                          * sqrt(list_dot_product({_QUERY_SQL},
                                                  {_QUERY_SQL})))
                         AS cos_sim
                FROM sigs
                WHERE bucket IN ({", ".join(str(b) for b in _LSH_PROBES)})
                ORDER BY cos_sim DESC, vec_id
                LIMIT {_TOPK}
            ),
            dists AS (SELECT vec_id, embedding, {_IVF_DIST_COLS} FROM base),
            cells AS (
                SELECT vec_id, embedding, {_IVF_CELL_CASE} AS cell
                FROM (SELECT *, {_IVF_LEAST} AS m FROM dists)
            ),
            ivf AS (
                SELECT vec_id,
                       list_dot_product(embedding, {_QUERY_SQL})
                       / (sqrt(list_dot_product(embedding, embedding))
                          * sqrt(list_dot_product({_QUERY_SQL},
                                                  {_QUERY_SQL})))
                         AS cos_sim
                FROM cells
                WHERE cell IN ({", ".join(str(p) for p in _IVF_PROBE_CELLS)})
                ORDER BY cos_sim DESC, vec_id
                LIMIT {_TOPK}
            ),
            hits AS (
                SELECT 'rp_lsh' AS method,
                       CAST(count(*) AS BIGINT) AS n_hits
                FROM lsh l JOIN brute b ON l.vec_id = b.vec_id
                UNION ALL
                SELECT 'ivf' AS method,
                       CAST(count(*) AS BIGINT) AS n_hits
                FROM ivf i JOIN brute b ON i.vec_id = b.vec_id
            )
            SELECT method, n_hits,
                   CAST(n_hits AS DOUBLE) / {float(_TOPK)!r} AS recall_at_k
            FROM hits
        """,
    )
)


# ---------------------------------------------------------------------------
# Exact all-pairs sparse-cosine similarity join (APSS, prefix filtering)
# ---------------------------------------------------------------------------

#: Deterministic corpus slice for the APSS query: the ORACLE verifies by
#: brute force (token self-join, sum(df^2) intermediate rows), which is
#: tractable at sf0.01 only on a slice; the Spark side runs the real
#: prefix-filtered operator, whose exactness the oracle then certifies.
_APSS_MOD = 17

#: Similarity threshold 19/20 = 0.95 (measured on the slice: 24 pairs at
#: sf0.01 inc. the planted truncation twins; 0.8 would pass 59 — the
#: synthetic ~30-word vocab makes random docs far more cosine-similar
#: than natural text).
_APSS_TAU = (19, 20)


def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with term-frequency cosine >= 0.95 over a
    deterministic corpus slice + planted truncation twins, via the exact
    prefix-filtered APSS join (operators/similarity.sparse_cosine_join).

    The slice (doc_id % 17 == 0) exists for the ORACLE's sake — DuckDB
    verifies with the naive token self-join, whose sum(df^2) cost is the
    very thing prefix filtering removes. The Spark plan is the full
    operator: df agg, per-doc suffix-norm window, prefix semi-join,
    exact verification agg — all int64 until the final basis-point
    floor-div, so the hash check is bit-exact.
    """
    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % _APSS_MOD == 0)
        .select("doc_id", "text")
    )
    aug = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
            F.substring(F.col("text"), 21, 1_000_000).alias("text"),
        )
    )
    tf = (
        aug.select(
            "doc_id", F.explode(X.tokenize(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return S.sparse_cosine_join(tf, *_APSS_TAU)


register(
    QuerySpec(
        name="sparse_cosine_pairs",
        description="exact all-pairs tf-cosine >= 0.95 via prefix-filtered "
        "APSS join (Bayardo/Xiao candidate cut, int64 verification)",
        spark=q_sparse_cosine_pairs,
        oracle=f"""
            WITH base AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id % {_APSS_MOD} = 0
            ),
            aug AS (
                SELECT doc_id, text FROM base
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET} AS doc_id,
                       substring(text, 21, 1000000) AS text
                FROM base
            ),
            tk AS (
                SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM aug
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2
            ),
            nrm AS (
                SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS nsq
                FROM tf GROUP BY 1
            ),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
                FROM tf a JOIN tf b
                  ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, dot,
                   x.nsq AS norm_sq_a,
                   y.nsq AS norm_sq_b,
                   (10000 * dot * dot) // (x.nsq * y.nsq) AS cos_sq_bp
            FROM pairs
            JOIN nrm x ON id_a = x.doc_id
            JOIN nrm y ON id_b = y.doc_id
            WHERE {_APSS_TAU[1] * _APSS_TAU[1]} * dot * dot
                  >= {_APSS_TAU[0] * _APSS_TAU[0]} * x.nsq * y.nsq
        """,
    )
)


# ---------------------------------------------------------------------------
# True time-debounce dedup: keep an event only if >= T after the last KEPT
# event of its (user, type) — iterative semantics no SQL window expresses
# ---------------------------------------------------------------------------

_DEBOUNCE_US = 86_400 * 1_000_000  # 1 day (median in-group gap is ~35 h)


def q_event_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True debounce over the event log: an event survives iff it is more
    than _DEBOUNCE_US after the last SURVIVING event of its (user_id,
    event_type) — the alert/notification rate-limit semantics.

    This is NOT the lag-gap filter (sessionize_events): the reference
    point is the last KEPT event, so three events at t, t+0.6T, t+1.2T
    keep {t, t+1.2T} where a lag filter keeps only {t}. That running
    state makes it inexpressible as a SQL window function — it is the
    batch twin of the streaming session-state operator, expressed
    natively: ONE shuffle groups each key's events, array_sort orders
    them (ts_us, event_id), and F.aggregate folds left-to-right carrying
    (last_kept, kept-list) entirely inside codegen — no Python, no UDF,
    per-group state bounded by group cardinality (the same boundedness
    the streaming sessionizer assumes; max 29 events/key in testdata).
    The oracle replays the identical fold as a recursive CTE marching
    row_number order, so the check is exact.
    """
    seq_t = "array<struct<ts_us:bigint,event_id:bigint>>"
    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    grouped = e.groupBy("user_id", "event_type").agg(
        F.array_sort(F.collect_list(F.struct("ts_us", "event_id"))).alias(
            "seq"
        )
    )
    kept = F.aggregate(
        "seq",
        F.struct(
            F.lit(None).cast("long").alias("last_kept"),
            F.array().cast(seq_t).alias("kept"),
        ),
        lambda acc, x: F.when(
            acc["last_kept"].isNull()
            | (x["ts_us"] - acc["last_kept"] > F.lit(_DEBOUNCE_US)),
            F.struct(
                x["ts_us"].alias("last_kept"),
                F.array_append(acc["kept"], x).alias("kept"),
            ),
        ).otherwise(acc),
    )["kept"]
    return (
        grouped.select(
            "user_id", "event_type", F.explode(kept).alias("k")
        )
        .select(
            "user_id",
            "event_type",
            F.col("k.event_id").alias("event_id"),
            F.col("k.ts_us").alias("ts_us"),
        )
    )


register(
    QuerySpec(
        name="event_debounce_dedup",
        description="true debounce vs last-KEPT event per (user, type): "
        "native ordered fold, one shuffle; recursive-CTE oracle",
        spark=q_event_debounce_dedup,
        oracle=f"""
            WITH RECURSIVE s AS (
                SELECT user_id, event_type, event_id,
                       epoch_us(ts) AS ts_us,
                       row_number() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY epoch_us(ts), event_id
                       ) AS rn
                FROM events
            ),
            walk AS (
                SELECT user_id, event_type, event_id, ts_us, rn,
                       ts_us AS last_kept, TRUE AS kept
                FROM s WHERE rn = 1
                UNION ALL
                SELECT s.user_id, s.event_type, s.event_id, s.ts_us, s.rn,
                       CASE WHEN s.ts_us - w.last_kept > {_DEBOUNCE_US}
                            THEN s.ts_us ELSE w.last_kept END,
                       s.ts_us - w.last_kept > {_DEBOUNCE_US}
                FROM walk w
                JOIN s ON s.user_id = w.user_id
                      AND s.event_type = w.event_type
                      AND s.rn = w.rn + 1
            )
            SELECT user_id, event_type, event_id, ts_us
            FROM walk WHERE kept
        """,
    )
)


# ---------------------------------------------------------------------------
# Per-document tf-idf keyword extraction (fp_log2 fixed-point idf)
# ---------------------------------------------------------------------------

_KEYWORDS_PER_DOC = 3


def q_tfidf_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document: score = tf * (fp_log2(N) -
    fp_log2(df)) — all-int64 fixed-point idf (1/256-bit units), so the
    ranking and the hash are cross-engine exact with zero libm.
    int64 bound: the idf factor is < 256*log2(N) <= 256*63 ~ 2^14, so
    the product overflows only past tf ~ 5.7e14 occurrences of one term
    in one document — unreachable for any real document at any corpus
    size (the bound is per-(doc, term), not corpus-scale).

    Plan: one map-side-combined tf agg, a vocab-sized df agg joined back
    on the token key, the corpus count as a 1-row broadcast (crossJoin
    of an aggregate, never a collected scalar), and one per-doc window
    for the top-3 cut — partitions are single documents, so the sort is
    bounded by document length, never corpus size.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tf = (
        docs.select(
            "doc_id", F.explode(X.tokenize(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfv = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfv, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_fp",
            F.col("tf") * (fp_log2("n") - fp_log2("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.asc("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KEYWORDS_PER_DOC)
        .select("doc_id", "token", "tf", "df", "score_fp", "rk")
    )


register(
    QuerySpec(
        name="tfidf_doc_keywords",
        description="top-3 tf-idf keywords per doc, fp_log2 fixed-point "
        "idf, exact int64 scores",
        spark=q_tfidf_doc_keywords,
        oracle=f"""
            WITH tk AS (
                SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2
            ),
            dfv AS (
                SELECT token, count(*) AS df FROM tf GROUP BY 1
            ),
            nd AS (SELECT count(*) AS n FROM documents),
            sc AS (
                SELECT doc_id, token, tf, df,
                       tf * ({fp_log2_sql('n', 'duckdb')}
                             - {fp_log2_sql('df', 'duckdb')}) AS score_fp
                FROM tf JOIN dfv USING (token) CROSS JOIN nd
            ),
            ranked AS (
                SELECT doc_id, token, tf, df, score_fp,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY score_fp DESC, token
                       ) AS rk
                FROM sc
            )
            SELECT doc_id, token,
                   CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df,
                   CAST(score_fp AS BIGINT) AS score_fp,
                   CAST(rk AS BIGINT) AS rk
            FROM ranked WHERE rk <= {_KEYWORDS_PER_DOC}
        """,
    )
)


# ---------------------------------------------------------------------------
# Round 10: order-insensitive dedup, corpus-overlap measures, chunk planning
# ---------------------------------------------------------------------------


def q_bow_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: group documents by their SORTED token multiset
    (h60 of the space-joined sorted token list), catching word-order-
    shuffled duplicates that byte-exact dedup misses. The corpus has no
    natural reorderings, so the input is augmented with a token-REVERSED
    copy of every document (id+1e6): byte-distinct, bag-identical.

    Scale: the group key is a 60-bit int64 hash, never the sorted string
    itself, so the shuffle carries 8 bytes per doc; the per-doc sort is
    bounded by document length. n_texts counts byte-distinct members per
    bag group (2 for every planted pair — reversal changes the bytes),
    separating true reorderings from verbatim copies at no extra shuffle.
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    mutated = docs.select(
        (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(X.tokenize(F.col("text"))), " ").alias("text"),
    )
    aug = docs.unionByName(mutated)
    sig = X.h60(F.array_join(F.array_sort(X.tokenize(F.col("text"))), " "))
    return (
        aug.select(
            sig.alias("sig"),
            X.h60(F.col("text")).alias("th"),
            "doc_id",
        )
        .groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("th").alias("n_texts"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


register(
    QuerySpec(
        name="bow_dedup_groups",
        description="order-insensitive dedup: sorted-token-multiset h60 "
        "groups over documents + token-reversed copies",
        spark=q_bow_dedup_groups,
        oracle=f"""
            WITH aug AS (
                -- COALESCE: duckdb array_to_string([]) is NULL, spark
                -- array_join([]) is '' — empty-token (non-ASCII) docs
                -- must agree (caught by the unicode sweep)
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET} AS doc_id,
                       COALESCE(array_to_string(
                           list_reverse({_TOKENS_SQL}), ' '), '') AS text
                FROM documents
            ),
            sg AS (
                SELECT doc_id,
                       {h60_sql(f"COALESCE(array_to_string(list_sort({_TOKENS_SQL}), ' '), '')")}
                           AS sig,
                       {h60_sql('text')} AS th
                FROM aug
            )
            SELECT sig,
                   count(*) AS n_docs,
                   count(DISTINCT th) AS n_texts,
                   min(doc_id) AS min_doc_id
            FROM sg GROUP BY sig HAVING count(*) >= 2
        """,
    )
)


def q_weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard overlap between every source pair: each
    token's weight is its fixed-point idf (fp_log2(N) - fp_log2(df), all
    int64), weighted Jaccard = sum(w over shared vocab) / sum(w over
    union vocab) — shared rare vocabulary counts for more than shared
    stopwords, the standard corpus-overlap refinement of raw Jaccard.

    Plan: ONE token-keyed aggregation produces df and the (<=20-element)
    source set per token; pairs are generated from the sorted set with a
    nested array transform (fan-out <= C(20,2) per token, no self-join,
    no second shuffle over the vocabulary), and per-source totals reuse
    the same localCheckpointed frame. Exact while vocab * max(w) < 2^63
    (w <= 256*log2(N) fixed-point units — ~2^13 at a trillion docs, so
    safe to ~2^50 distinct tokens).
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    )
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("n"))
    base = docs.select(
        "doc_id", "source", F.explode(X.tokenize(F.col("text"))).alias("token")
    ).distinct()
    tokw = (
        base.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_sort(F.collect_set("source")).alias("sources"),
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn("w", fp_log2("n") - fp_log2("df"))
        .select("token", "sources", "w")
        .localCheckpoint()
    )
    tot = (
        tokw.select(F.explode("sources").alias("source"), "w")
        .groupBy("source")
        .agg(F.sum("w").alias("tot"))
    )
    pairs = tokw.select(
        F.explode(
            F.expr(
                "flatten(transform(sources, (x, i) -> "
                "transform(slice(sources, i + 2, size(sources)), "
                "y -> struct(x AS source_a, y AS source_b))))"
            )
        ).alias("p"),
        "w",
    ).select("p.source_a", "p.source_b", "w")
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.sum("w").alias("inter_w")
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("tot").alias("tot_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("tot").alias("tot_b")
    )
    return (
        inter.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "inter_w",
            (F.col("tot_a") + F.col("tot_b") - F.col("inter_w")).alias(
                "union_w"
            ),
            (
                F.col("inter_w").cast("double")
                / (F.col("tot_a") + F.col("tot_b") - F.col("inter_w")).cast(
                    "double"
                )
            ).alias("weighted_jaccard"),
        )
    )


register(
    QuerySpec(
        name="weighted_jaccard_sources",
        description="idf-weighted Jaccard vocabulary overlap for every "
        "source pair, int64 fixed-point weights",
        spark=q_weighted_jaccard_sources,
        oracle=f"""
            WITH base AS MATERIALIZED (
                SELECT DISTINCT doc_id, source, token FROM (
                    SELECT doc_id, source, unnest({_TOKENS_SQL}) AS token
                    FROM documents
                )
            ),
            nd AS (SELECT count(*) AS n FROM documents),
            w AS MATERIALIZED (
                SELECT token,
                       ({fp_log2_sql('n', 'duckdb')}
                        - {fp_log2_sql('df', 'duckdb')}) AS w
                FROM (
                    SELECT token, count(DISTINCT doc_id) AS df
                    FROM base GROUP BY 1
                ) CROSS JOIN nd
            ),
            stw AS MATERIALIZED (
                SELECT s.source, s.token, w.w
                FROM (SELECT DISTINCT source, token FROM base) s
                JOIN w USING (token)
            ),
            tot AS (
                SELECT source, CAST(sum(w) AS BIGINT) AS tot
                FROM stw GROUP BY 1
            ),
            inter AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       CAST(sum(a.w) AS BIGINT) AS inter_w
                FROM stw a JOIN stw b
                  ON a.token = b.token AND a.source < b.source
                GROUP BY 1, 2
            )
            SELECT source_a, source_b, inter_w,
                   ta.tot + tb.tot - inter_w AS union_w,
                   CAST(inter_w AS DOUBLE)
                       / CAST(ta.tot + tb.tot - inter_w AS DOUBLE)
                       AS weighted_jaccard
            FROM inter
            JOIN tot ta ON inter.source_a = ta.source
            JOIN tot tb ON inter.source_b = tb.source
        """,
    )
)


_CHUNK_SIZE = 512  #: RAG/context chunk size in (BPE-estimate) tokens
_CHUNK_OVERLAP = 64  #: tokens shared between consecutive chunks
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


def q_doc_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-chunking plan: per source, how many size-512/overlap-64
    chunks the corpus yields and how much of the chunk capacity is
    padding. n_chunks = 1 if T <= 512 else 1 + ceil((T-512)/448) (integer
    ceil via (x + 447) div 448 — no float division anywhere), padding =
    n*512 - (n-1)*64 - T, the unfilled tail of the last chunk.

    One corpus scan, one 20-group aggregation; everything per-doc is a
    projection, so the plan is a map + tiny hash-agg at any scale.
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("source", "text")
    )
    t = X.bpe_token_estimate(F.col("text")).cast("long")
    n_chunks = F.when(
        F.col("n_tok") <= _CHUNK_SIZE, F.lit(1).cast("long")
    ).otherwise(
        F.lit(1)
        + F.expr(
            f"(CAST({_CHUNK_STRIDE - 1} AS BIGINT) + n_tok"
            f" - {_CHUNK_SIZE}) div {_CHUNK_STRIDE}"
        )
    )
    per_doc = docs.select("source", t.alias("n_tok")).select(
        "source",
        "n_tok",
        n_chunks.alias("n_chunks"),
    )
    pad = (
        F.col("n_chunks") * _CHUNK_SIZE
        - (F.col("n_chunks") - 1) * _CHUNK_OVERLAP
        - F.col("n_tok")
    )
    return (
        per_doc.withColumn("pad", pad)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chunks").alias("total_chunks"),
            F.sum("pad").alias("total_pad"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "total_chunks",
            "total_pad",
            (
                F.col("total_pad").cast("double")
                / (F.col("total_tokens") + F.col("total_pad")).cast("double")
            ).alias("pad_frac"),
        )
    )


register(
    QuerySpec(
        name="doc_chunk_plan",
        description="per-source 512/64 retrieval-chunk counts and padding "
        "fraction, all-integer ceil arithmetic",
        spark=q_doc_chunk_plan,
        oracle=f"""
            WITH t AS (
                SELECT source,
                       CAST(len(regexp_extract_all(text, '{_BPE_SQL}'))
                            AS BIGINT) AS n_tok
                FROM documents
            ),
            c AS (
                SELECT source, n_tok,
                       CASE WHEN n_tok <= {_CHUNK_SIZE} THEN CAST(1 AS BIGINT)
                            ELSE 1 + (n_tok - {_CHUNK_SIZE}
                                      + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE}
                       END AS n_chunks
                FROM t
            ),
            p AS (
                SELECT source, n_tok, n_chunks,
                       n_chunks * {_CHUNK_SIZE}
                       - (n_chunks - 1) * {_CHUNK_OVERLAP}
                       - n_tok AS pad
                FROM c
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
                   CAST(sum(pad) AS BIGINT) AS total_pad,
                   CAST(sum(pad) AS DOUBLE)
                       / CAST(sum(n_tok) + sum(pad) AS DOUBLE) AS pad_frac
            FROM p GROUP BY source
        """,
    )
)


def q_token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration per source: the Gini coefficient of the
    per-token frequency distribution — G = (2*sum(i*c_i) - (n+1)*sum(c))
    / (n*sum(c)) with counts sorted ascending. High Gini = a few tokens
    dominate (boilerplate-heavy source); low = flat vocabulary.

    Scale: the textbook formulation ranks every (source, token) row with
    one window per source — a single-task sort over the whole vocabulary
    of the largest source. This plan ELIMINATES the per-token rank
    algebraically: ranks within an equal-count block B+1..B+k contribute
    c*(k*B + k(k+1)/2), so only the per-source DISTINCT COUNT VALUES
    (heavy-tailed: thousands, not millions) go through the window. The
    oracle uses the row_number formulation — same integers, different
    plan. Exact while c*k*(B+k) < 2^63 per block (~1e9-row vocabularies
    with 1e9-count heads; shard and re-sum past that).
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("source", "text")
    )
    tc = (
        docs.select("source", F.explode(X.tokenize(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    by_c = tc.groupBy("source", "c").agg(F.count(F.lit(1)).alias("k"))
    w = (
        Window.partitionBy("source")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blocks = by_c.withColumn(
        "b", F.coalesce(F.sum("k").over(w), F.lit(0).cast("long"))
    )
    contrib = F.col("c") * (
        F.col("k") * F.col("b")
        + F.expr("(k * (k + 1)) div 2")
    )
    return (
        blocks.withColumn("s_contrib", contrib)
        .groupBy("source")
        .agg(
            F.sum("k").alias("n_vocab"),
            F.sum(F.col("c") * F.col("k")).alias("total_tokens"),
            F.sum("s_contrib").alias("s_ic"),
        )
        .select(
            "source",
            "n_vocab",
            "total_tokens",
            "s_ic",
            (
                (
                    2 * F.col("s_ic")
                    - (F.col("n_vocab") + 1) * F.col("total_tokens")
                ).cast("double")
                / (F.col("n_vocab") * F.col("total_tokens")).cast("double")
            ).alias("gini"),
        )
    )


register(
    QuerySpec(
        name="token_gini_by_source",
        description="per-source Gini coefficient of token frequencies, "
        "rank-eliminated exact integer formulation",
        spark=q_token_gini_by_source,
        oracle=f"""
            WITH tok AS (
                SELECT source, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            tc AS (
                SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
            ),
            r AS (
                SELECT source, c,
                       row_number() OVER (
                           PARTITION BY source ORDER BY c, token
                       ) AS i
                FROM tc
            ),
            g AS (
                SELECT source,
                       count(*) AS n_vocab,
                       CAST(sum(c) AS BIGINT) AS total_tokens,
                       CAST(sum(i * c) AS BIGINT) AS s_ic
                FROM r GROUP BY 1
            )
            SELECT source, n_vocab, total_tokens, s_ic,
                   CAST(2 * s_ic - (n_vocab + 1) * total_tokens AS DOUBLE)
                       / CAST(n_vocab * total_tokens AS DOUBLE) AS gini
            FROM g
        """,
    )
)


def q_source_bigram_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylistic similarity between sources: cosine of their bigram
    count vectors — numerator sum(cA*cB) over shared bigrams, int64
    exact; the only floats are the final correctly-rounded sqrt/divide,
    identical IEEE-754 ops in both engines.

    Plan: one bigram-keyed aggregation collects the (<=20-entry)
    per-source count list; pairs come from a nested array transform
    (fan-out <= C(20,2) per bigram — no vocabulary self-join); per-source
    sum-of-squares is a second pass over the same localCheckpointed
    frame. Exact while sum(c^2) < 2^63 per source (c <= ~3e9 bigram
    occurrences; shard and re-sum past that).
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("source", "text")
    )
    # hoisted token projection + zip_with bigrams (r11; see q_bigram_topk
    # — same per-element re-tokenization trap, same byte-identical fix)
    toked = docs.select("source", X.tokenize(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    grams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    tc = (
        toked.select("source", F.explode(grams).alias("bigram"))
        .groupBy("source", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_gram = (
        tc.groupBy("bigram")
        .agg(F.array_sort(F.collect_list(F.struct("source", "c"))).alias("sc"))
        .localCheckpoint()
    )
    pairs = per_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(sc, (x, i) -> "
                "transform(slice(sc, i + 2, size(sc)), "
                "y -> struct(x.source AS source_a, y.source AS source_b, "
                "x.c * y.c AS p))))"
            )
        ).alias("pp")
    ).select("pp.source_a", "pp.source_b", "pp.p")
    num = pairs.groupBy("source_a", "source_b").agg(F.sum("p").alias("num"))
    # sum-of-squares from the SAME checkpointed per-gram frame (re-deriving
    # it from tc would rebuild the tokenize+explode pipeline a second time:
    # two extra corpus-scale shuffles for numbers already in `sc`)
    sq = (
        per_gram.select(F.explode("sc").alias("e"))
        .select(F.col("e.source").alias("source"), F.col("e.c").alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") * F.col("c")).alias("ss"))
    )
    sa = sq.select(F.col("source").alias("source_a"), F.col("ss").alias("ss_a"))
    sb = sq.select(F.col("source").alias("source_b"), F.col("ss").alias("ss_b"))
    return (
        num.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "num",
            (
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("ss_a").cast("double"))
                    * F.sqrt(F.col("ss_b").cast("double"))
                )
            ).alias("cosine"),
        )
    )


register(
    QuerySpec(
        name="source_bigram_cosine",
        description="pairwise source cosine over bigram count vectors, "
        "int64 numerator, sqrt-only floats",
        spark=q_source_bigram_cosine,
        oracle=f"""
            WITH t AS (
                SELECT source, {_TOKENS_SQL} AS toks FROM documents
            ),
            g AS (
                SELECT source,
                       unnest(list_transform(
                           range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM t WHERE len(toks) >= 2
            ),
            tc AS MATERIALIZED (
                SELECT source, bigram, count(*) AS c FROM g GROUP BY 1, 2
            ),
            num AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       CAST(sum(a.c * b.c) AS BIGINT) AS num
                FROM tc a JOIN tc b
                  ON a.bigram = b.bigram AND a.source < b.source
                GROUP BY 1, 2
            ),
            sq AS (
                SELECT source, CAST(sum(c * c) AS BIGINT) AS ss
                FROM tc GROUP BY 1
            )
            SELECT source_a, source_b, num,
                   CAST(num AS DOUBLE)
                       / (sqrt(CAST(ta.ss AS DOUBLE))
                          * sqrt(CAST(tb.ss AS DOUBLE))) AS cosine
            FROM num
            JOIN sq ta ON num.source_a = ta.source
            JOIN sq tb ON num.source_b = tb.source
        """,
    )
)


_PFX_K = 24  #: bucket key = first K chars (crawl-truncation artifacts)
_PFX_CAP = 32  #: bounded-recall bucket cap, the LSH-cap posture


def q_prefix_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation dedup: documents whose full text is a STRICT prefix of
    another document's text (the crawl-refetch / snippet artifact exact
    and MinHash dedup both treat as distinct). Candidates bucket on the
    h60 of the first 24 characters — a contained doc (>= 24 chars)
    always shares its container's bucket — then verify
    substring(container, 1, len(contained)) equality. Planted copies
    truncated to 60% of each doc's chars make the path fire.

    Bounded recall, observed not assumed: buckets over _PFX_CAP docs
    (boilerplate-prefix pileups — the quadratic risk at 100 TB) are
    dropped BEFORE pair generation and REPORTED in the output
    (n_dropped_buckets / n_dropped_docs, same posture as the capped
    LSH family); docs shorter than 24 chars key on their whole text and
    can only match equal-prefix containers coincidentally (documented
    miss, separately recoverable by an exact short-doc pass).

    Physical shape mirrors operators/dedup.py:lsh_candidate_pairs'
    capped branch: ONE bucket aggregation collects the (len, id, source)
    triples — 20 bytes per member, never the text — candidate ORDERED
    pairs fan out in-array (len_a < len_b, bounded by cap^2/2), and only
    that bounded candidate set joins the corpus texts back (two int64-
    keyed joins) for the strict-prefix verification. The census and the
    dropped-bucket audit reuse the same checkpointed bucket frame, so
    the corpus is tokenized and shuffled exactly once.
    """
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    plants = docs.select(
        (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
        "source",
        F.expr(
            "substring(text, 1, CAST((length(text) * 3) div 5 AS INT))"
        ).alias("text"),
    )
    aug = docs.unionByName(plants)
    keyed = aug.select(
        "doc_id",
        "source",
        F.length("text").alias("len"),
        X.h60(F.substring(F.col("text"), 1, _PFX_K)).alias("bk"),
    )
    grouped = (
        keyed.groupBy("bk")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.array_sort(
                F.collect_list(F.struct("len", "doc_id", "source"))
            ).alias("members"),
        )
        .localCheckpoint()
    )
    dropped = grouped.filter(F.col("bn") > _PFX_CAP).agg(
        F.count(F.lit(1)).alias("n_dropped_buckets"),
        F.coalesce(F.sum("bn"), F.lit(0).cast("long")).alias(
            "n_dropped_docs"
        ),
    )
    # ordered candidate pairs: members sorted by (len, doc_id), so the
    # nested transform pairs each doc only with LONGER (or equal-len,
    # filtered at verify) successors — the strict-prefix direction
    cand = (
        grouped.filter(F.col("bn") <= _PFX_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(filter(slice(members, i + 2, size(members)),"
                    " y -> y.len > x.len), "
                    "y -> struct(x.doc_id AS id_a, x.source AS src_a, "
                    "x.len AS len_a, y.doc_id AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.src_a", "p.len_a", "p.id_b")
    )
    ta = aug.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = aug.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    pairs = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(
            F.expr("substring(text_b, 1, CAST(len_a AS INT))")
            == F.col("text_a")
        )
    )
    per_src = pairs.groupBy("src_a").agg(
        F.countDistinct("id_a").alias("n_contained"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    n_docs = (
        grouped.select(F.explode("members").alias("m"))
        .groupBy(F.col("m.source").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        n_docs.join(
            F.broadcast(per_src), n_docs.source == per_src.src_a, "left"
        )
        .crossJoin(F.broadcast(dropped))
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_contained"), F.lit(0).cast("long")).alias(
                "n_contained"
            ),
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias(
                "n_pairs"
            ),
            "n_dropped_buckets",
            "n_dropped_docs",
        )
    )


register(
    QuerySpec(
        name="prefix_containment_dups",
        description="truncation dedup: strict-prefix containment via "
        "capped first-24-char buckets, dropped buckets reported",
        spark=q_prefix_containment_dups,
        oracle=f"""
            WITH aug AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT doc_id + {_AUG_OFFSET} AS doc_id, source,
                       substring(text, 1, (length(text) * 3) // 5) AS text
                FROM documents
            ),
            keyed AS (
                SELECT doc_id, source, text,
                       CAST(length(text) AS BIGINT) AS len,
                       {h60_sql(f'substring(text, 1, {_PFX_K})')} AS bk
                FROM aug
            ),
            sizes AS (
                SELECT bk, count(*) AS bn FROM keyed GROUP BY bk
            ),
            ok AS (SELECT bk FROM sizes WHERE bn <= {_PFX_CAP}),
            dropped AS (
                SELECT CAST(count(*) AS BIGINT) AS n_dropped_buckets,
                       CAST(COALESCE(sum(bn), 0) AS BIGINT)
                           AS n_dropped_docs
                FROM sizes WHERE bn > {_PFX_CAP}
            ),
            k2 AS MATERIALIZED (
                SELECT k.* FROM keyed k JOIN ok USING (bk)
            ),
            pairs AS (
                SELECT a.doc_id AS id_a, a.source AS src_a
                FROM k2 a JOIN k2 b
                  ON a.bk = b.bk AND a.len < b.len
                     AND substring(b.text, 1, a.len) = a.text
            ),
            per_src AS (
                SELECT src_a, count(DISTINCT id_a) AS n_contained,
                       count(*) AS n_pairs
                FROM pairs GROUP BY 1
            ),
            nd AS (
                SELECT source, count(*) AS n_docs FROM aug GROUP BY 1
            )
            SELECT nd.source, nd.n_docs,
                   CAST(COALESCE(p.n_contained, 0) AS BIGINT)
                       AS n_contained,
                   CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
                   d.n_dropped_buckets, d.n_dropped_docs
            FROM nd LEFT JOIN per_src p ON nd.source = p.src_a
            CROSS JOIN dropped d
        """,
    )
)


#: Candidate thresholds swept by q_minhash_threshold_sweep — the knob a
#: pipeline owner tunes; 0.3 is the registered production _MH_THRESHOLD.
_SWEEP_THRESHOLDS = (0.2, 0.3, 0.5, 0.7, 0.9)


#: Slice modulus for the routine-cadence variants of the two heavy dedup
#: audits (r10 VERDICT "Next round" #6): doc_id % 5 keeps ~1/5 of the
#: base corpus before planting/augmenting, cutting candidate-pair work
#: ~25x while preserving the planted pair structure (both sides of a
#: plant share the base doc_id, so a sliced base keeps whole pairs).
_AUDIT_SAMPLE_MOD = 5


def q_minhash_threshold_sweep(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Dedup-threshold operating curve: for each candidate Jaccard
    threshold, how many verified LSH pairs survive and how many distinct
    documents they touch — the numbers that decide where to set the
    near-dup cutoff before committing a 100 TB dedup pass. One LSH
    candidate generation at threshold 0 (same banded pipeline, exact
    Jaccard on every candidate), then a 5-way cumulative census via a
    literal-array explode: the expensive pair work is paid once, the
    sweep itself is a fan-out of 5 over the bounded pair set.

    Both census columns come from ONE groupBy over the exploded-ids
    frame (each surviving pair contributes exactly 2 id rows, so
    ``n_pairs = count/2``) — no join at all, which also removes the
    fragile DOUBLE-threshold join key the r10 ADVICE flagged.

    Audit cadence: once-per-corpus-revision tuning audit (same contract
    as ``dedup_recall_matrix``), not a routine query — at x100 it
    measured 36.8x / 85.8 s, the cost of exact-Jaccard-verifying every
    threshold-0 candidate; it is paid when the corpus or the dedup knobs
    change. For routine monitoring,
    ``minhash_threshold_sweep_sampled`` runs the same curve over the
    ``doc_id % _AUDIT_SAMPLE_MOD`` slice (the APSS pattern: ~1/5 of
    docs, ~1/25 of candidate-pair work) — full mode stays the audit of
    record at corpus revisions. Measured at x100, where pair work (not
    fixed overhead) dominates: sampled 13.5 s vs full 85.8 s, >6x (at
    sf0.1 the gap is only ~1.2x because session+tokenize overheads
    dominate).
    """
    pairs0 = D.minhash_near_dups(
        _augmented_docs(spark, sf_dir, sample_mod),
        ngram=_MH_NGRAM,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        threshold=0.0,
        max_bucket=_MH_MAX_BUCKET,
    ).localCheckpoint()
    thr = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    swept = pairs0.select("id_a", "id_b", "jaccard", thr).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    ids = swept.select(
        "threshold",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    return ids.groupBy("threshold").agg(
        (F.count(F.lit(1)) / F.lit(2)).cast("long").alias("n_pairs"),
        F.countDistinct("id").alias("n_docs"),
    )


def _sweep_oracle(sample_mod: int | None = None) -> str:
    """Threshold-sweep oracle; ``sample_mod`` slices the base corpus
    exactly as the Spark side's ``_augmented_docs`` does."""
    return f"""
        WITH pairs AS MATERIALIZED (
            {_minhash_oracle(_MH_MAX_BUCKET, threshold=0.0,
                             aug_sql=_aug_docs_sql(sample_mod))} ),
        -- CAST: a bare decimal-literal list unnests as DECIMAL(2,1),
        -- which pandas renders differently from Spark's float64
        thr AS (SELECT unnest(CAST({list(_SWEEP_THRESHOLDS)!r}
                                   AS DOUBLE[])) AS threshold),
        swept AS (
            SELECT t.threshold, p.id_a, p.id_b
            FROM pairs p CROSS JOIN thr t
            WHERE p.jaccard >= t.threshold
        ),
        np AS (
            SELECT threshold, count(*) AS n_pairs
            FROM swept GROUP BY 1
        ),
        ids AS (
            SELECT threshold, id_a AS id FROM swept
            UNION ALL
            SELECT threshold, id_b AS id FROM swept
        ),
        ndocs AS (
            SELECT threshold, count(DISTINCT id) AS n_docs
            FROM ids GROUP BY 1
        )
        SELECT np.threshold,
               CAST(np.n_pairs AS BIGINT) AS n_pairs,
               CAST(ndocs.n_docs AS BIGINT) AS n_docs
        FROM np JOIN ndocs USING (threshold)
    """


register(
    QuerySpec(
        name="minhash_threshold_sweep",
        description="near-dup threshold operating curve: surviving pair "
        "and doc counts at 5 candidate Jaccard cutoffs",
        spark=q_minhash_threshold_sweep,
        oracle=_sweep_oracle(),
    )
)

register(
    QuerySpec(
        name="minhash_threshold_sweep_sampled",
        description="routine-cadence threshold operating curve over the "
        "doc_id % 5 corpus slice (~1/25 the pair work of the full audit)",
        spark=lambda spark, sf_dir: q_minhash_threshold_sweep(
            spark, sf_dir, _AUDIT_SAMPLE_MOD
        ),
        oracle=_sweep_oracle(_AUDIT_SAMPLE_MOD),
    )
)


_SHARD_N = 64  #: output shards for the writer-layout audit


def q_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side layout plan: assign every document to one of 64
    output shards by salted h60(doc_id) and audit the per-shard token
    balance — skew = shard tokens / ideal share. The question a 100 TB
    materialization asks before writing: does hash sharding give
    balanced files, or does a heavy tail need size-aware packing? One
    corpus scan, one 64-group aggregation, total as a 1-row broadcast.
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    per_doc = docs.select(
        F.pmod(
            X.h60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
            F.lit(_SHARD_N),
        ).alias("shard"),
        X.bpe_token_estimate(F.col("text")).cast("long").alias("n_tok"),
    )
    per_shard = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    total = per_shard.groupBy().agg(
        F.sum("n_tokens").alias("total_tokens")
    )
    return (
        per_shard.crossJoin(F.broadcast(total))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            (
                F.col("n_tokens").cast("double")
                * float(_SHARD_N)
                / F.col("total_tokens").cast("double")
            ).alias("skew"),
        )
    )


register(
    QuerySpec(
        name="shard_balance_audit",
        description="64-shard writer layout: per-shard doc/token counts "
        "and token skew vs the ideal share",
        spark=q_shard_balance_audit,
        oracle=f"""
            WITH per_doc AS (
                SELECT {h60_sql("'shard:' || CAST(doc_id AS VARCHAR)")}
                           % {_SHARD_N} AS shard,
                       CAST(len(regexp_extract_all(text, '{_BPE_SQL}'))
                            AS BIGINT) AS n_tok
                FROM documents
            ),
            per_shard AS (
                SELECT shard, count(*) AS n_docs,
                       CAST(sum(n_tok) AS BIGINT) AS n_tokens
                FROM per_doc GROUP BY 1
            ),
            tot AS (
                SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens
                FROM per_shard
            )
            SELECT shard,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   n_tokens,
                   CAST(n_tokens AS DOUBLE) * {float(_SHARD_N)!r}
                       / CAST(total_tokens AS DOUBLE) AS skew
            FROM per_shard CROSS JOIN tot
        """,
    )
)


# ---------------------------------------------------------------------------
# Span-level exact-substring dedup (Lee et al. 2022 — r10 VERDICT #1)
# ---------------------------------------------------------------------------

#: Span sampling parameters, sized for the ~54-token test docs: 8-token
#: windows anchored on 3-gram hashes, 1-in-2 sampling. 100 TB posture per
#: operators/dedup.sampled_spans: raise window (~50) and mod together —
#: emitted volume stays ~tokens/mod, the match guarantee covers verbatim
#: runs >= window + a few mods, and no stage below is anything but a
#: linear explode + hash aggregations (no pair join to cap).
_SPAN_W, _SPAN_ANCHOR, _SPAN_MOD = 8, 3, 2

#: Planted boilerplate: every doc_id % 5 == 0 doc carries this 21-token
#: header (the license-header case substring dedup exists to catch).
#: _AUG_OFFSET % 5 == 0, so a mutated copy keeps its base's header status
#: and the plant stays consistent across the augmented corpus.
_SPAN_HEADER = (
    "this dataset is provided under the standard open data license terms "
    "all rights reserved consult the archive policy for redistribution "
    "details"
)


def _spans_sql(
    tokens: str,
    window: int = _SPAN_W,
    anchor: int = _SPAN_ANCHOR,
    mod: int = _SPAN_MOD,
) -> str:
    """DuckDB twin of operators.dedup.sampled_spans, bit-for-bit: same
    token list, same 'sp:'-seeded h60 anchor decision, same space-joined
    window strings. ``tokens`` should be a cheap reference (a CTE column)
    — it is interpolated once per gram element."""
    t = f"({tokens})"
    agram = " || ' ' || ".join(f"{t}[i+{j}]" for j in range(anchor))
    wgram = " || ' ' || ".join(f"{t}[i+{j}]" for j in range(window))
    return f"""list_transform(
        list_filter(range(1, greatest(len({t}) - {window - 1}, 0) + 1),
                    i -> ({h60_sql(f"'sp:' || {agram}")}) % {mod} = 0),
        i -> {wgram})"""


def _span_aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + head-dropped copies, with the boilerplate header
    prefixed onto every doc_id % 5 == 0 row (base and copy alike)."""
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "text", "source"
        )
    )
    aug = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
            F.substring(F.col("text"), 21, 1_000_000).alias("text"),
            F.col("source"),
        )
    )
    return aug.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAN_HEADER), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")),
    )


_SPAN_AUG_SQL = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN '{_SPAN_HEADER}' || ' ' || text
                ELSE text END AS text,
           source
    FROM (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + {_AUG_OFFSET} AS doc_id,
               substring(text, 21, 1000000) AS text, source
        FROM documents
    )
"""


def q_substring_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of VERBATIM SPANS shared across documents — the
    dedup modality the doc-level detectors cannot see (Lee et al. 2022):
    license headers, boilerplate, and quoted chunks duplicated inside
    otherwise-distinct documents. Corpus: documents + head-dropped
    copies, with a 21-token license header planted on every 5th doc.

    Shape (all linear, no pair join, nothing to cap): explode_outer the
    sampled span fingerprints (~tokens/mod rows; zero-span docs ride as
    one null row so EVERY doc reaches the per-doc rollup), ONE hash
    aggregation for per-span distinct-doc counts, left-join the
    occurrences back on span_hash (both sides already partitioned on
    it), then per-doc and per-source rollups — 4 exchanges total, no
    side frame for doc counts. Boilerplate shared by a million documents
    is one group with a big count — the degenerate case that breaks LSH
    bucketing is this operator's happy path.

    Output per source: docs, docs containing >= 1 cross-doc span,
    sampled span occurrences, occurrences whose span recurs in another
    doc, and the duplicated-span fraction.
    """
    aug = _span_aug_docs(spark, sf_dir)
    spans = D.sampled_spans(F.col("text"), _SPAN_W, _SPAN_ANCHOR, _SPAN_MOD)
    occ = aug.select(
        "source", "doc_id", F.explode_outer(spans).alias("span")
    ).select("source", "doc_id", X.h60(F.col("span")).alias("span_hash"))
    per_span = (
        occ.filter(F.col("span_hash").isNotNull())
        .groupBy("span_hash")
        .agg(F.count_distinct("doc_id").alias("span_docs"))
    )
    per_doc = (
        occ.join(per_span, "span_hash", "left")
        .groupBy("source", "doc_id")
        .agg(
            F.count_if(F.col("span_hash").isNotNull())
            .cast("long")
            .alias("d_spans"),
            F.count_if(F.col("span_docs") >= 2).cast("long").alias("d_dup"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("d_dup") > 0).cast("long").alias("dup_docs"),
        F.sum("d_spans").cast("long").alias("n_spans"),
        F.sum("d_dup").cast("long").alias("n_dup_spans"),
    ).select(
        "source",
        "n_docs",
        "dup_docs",
        "n_spans",
        "n_dup_spans",
        F.when(
            F.col("n_spans") > 0,
            F.col("n_dup_spans").cast("double")
            / F.col("n_spans").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_span_frac"),
    )


register(
    QuerySpec(
        name="substring_dup_census",
        description="span-level exact-substring dedup census: per-source "
        "counts and fraction of sampled spans recurring across docs",
        spark=q_substring_dup_census,
        oracle=f"""
            WITH aug AS MATERIALIZED ( {_SPAN_AUG_SQL} ),
            tok AS (
                SELECT doc_id, source, {_TOKENS_SQL} AS t FROM aug
            ),
            occ AS (
                SELECT doc_id, source,
                       {h60_sql('s.span')} AS span_hash
                FROM tok, unnest({_spans_sql('t')}) AS s(span)
            ),
            per_span AS (
                SELECT span_hash, count(DISTINCT doc_id) AS span_docs
                FROM occ GROUP BY 1
            ),
            per_doc AS (
                SELECT o.source, o.doc_id,
                       count(*) AS d_spans,
                       sum(CASE WHEN p.span_docs >= 2 THEN 1 ELSE 0 END)
                           AS d_dup
                FROM occ o JOIN per_span p USING (span_hash)
                GROUP BY 1, 2
            ),
            src_docs AS (
                SELECT source, count(*) AS n_docs FROM aug GROUP BY 1
            ),
            census AS (
                SELECT source,
                       sum(CASE WHEN d_dup > 0 THEN 1 ELSE 0 END) AS dup_docs,
                       sum(d_spans) AS n_spans,
                       sum(d_dup) AS n_dup_spans
                FROM per_doc GROUP BY 1
            )
            SELECT s.source,
                   CAST(s.n_docs AS BIGINT) AS n_docs,
                   CAST(COALESCE(c.dup_docs, 0) AS BIGINT) AS dup_docs,
                   CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(COALESCE(c.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
                   CASE WHEN COALESCE(c.n_spans, 0) > 0
                        THEN CAST(c.n_dup_spans AS DOUBLE)
                             / CAST(c.n_spans AS DOUBLE)
                        ELSE 0.0 END AS dup_span_frac
            FROM src_docs s LEFT JOIN census c USING (source)
        """,
    )
)


def q_top_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-20 verbatim spans by cross-document spread — the report a
    pipeline owner reads to decide what boilerplate to strip before
    training. Same sampled-span pipeline as the census, grouped by
    span_hash (8-byte shuffle key; the span string rides along as min(),
    identical within a group), filtered to cross-doc spans, TakeOrdered
    by (docs, occurrences, hash) — fully deterministic, bounded output.
    """
    aug = _span_aug_docs(spark, sf_dir)
    spans = D.sampled_spans(F.col("text"), _SPAN_W, _SPAN_ANCHOR, _SPAN_MOD)
    occ = aug.select(
        "doc_id", F.explode(spans).alias("span")
    ).select("doc_id", "span", X.h60(F.col("span")).alias("span_hash"))
    return (
        occ.groupBy("span_hash")
        .agg(
            F.min("span").alias("span"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("span_hash")
        )
        .limit(20)
        .select("span_hash", "span", "n_docs", "n_occ")
    )


register(
    QuerySpec(
        name="top_repeated_spans",
        description="top-20 cross-document verbatim spans (boilerplate "
        "report) by document spread",
        spark=q_top_repeated_spans,
        oracle=f"""
            WITH aug AS MATERIALIZED ( {_SPAN_AUG_SQL} ),
            tok AS (
                SELECT doc_id, {_TOKENS_SQL} AS t FROM aug
            ),
            occ AS (
                SELECT doc_id, s.span, {h60_sql('s.span')} AS span_hash
                FROM tok, unnest({_spans_sql('t')}) AS s(span)
            )
            SELECT span_hash,
                   min(span) AS span,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occ
            FROM occ
            GROUP BY span_hash
            HAVING count(DISTINCT doc_id) >= 2
            ORDER BY n_docs DESC, n_occ DESC, span_hash
            LIMIT 20
        """,
    )
)


# ---------------------------------------------------------------------------
# Dedup-modality recall matrix: which detector catches which dup pattern.
# Four plant families over the same corpus, four real detectors, one table.
# ---------------------------------------------------------------------------

#: (kind, doc_id offset) for the planted copy families. Offsets stay clear
#: of the +1e6 shared augmentation and under the scale probe's 1e7 copy
#: stride so recall runs are valid on replicated corpora too.
_RECALL_PLANTS = (
    ("verbatim", 2_000_000),
    ("token_reversed", 3_000_000),
    ("prefix_truncated", 4_000_000),
    ("head_dropped", 5_000_000),
    # r11: a ~30% chunk of the doc spliced MID-DOCUMENT between two
    # char-reversed fillers (reversed text shares no token spans with the
    # forward text) — the Lee et al. 2022 quoted-chunk case. Not exact,
    # different bag, longer than the base (no prefix containment), and
    # Jaccard ~ chunk/(2x doc + chunk) ~ 0.13 < the 0.3 MinHash gate:
    # only the substring_span modality should light up on this row.
    ("mid_spliced", 6_000_000),
)


def q_dedup_recall_matrix(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Recall of each dedup modality against each planted duplicate
    pattern — the table that says WHICH detectors a 100 TB pipeline
    needs: exact (byte hash) sees only verbatim copies; bag-of-words
    adds token reorderings; prefix-containment adds truncations;
    MinHash-LSH adds head-dropped near-dups and (at Jaccard ~0.6)
    truncations, but not reorderings (3-gram shingles break); the
    substring_span modality (r11, Lee et al. 2022) adds verbatim chunks
    spliced INSIDE otherwise-distinct documents, which every doc-level
    detector misses.

    The detectors run FOR REAL where recall is capacity-limited: the
    MinHash column joins the planted pairs against the full banded
    pipeline's verified output over the 6N corpus, and the containment
    column enforces the same 24-char bucket + cap-32 gate the registered
    query ships — the signature-equality modalities (exact, bag) reduce
    to comparing the two sides' signatures, and the span column to
    intersecting the two sides' sampled-span sets, which is exactly what
    their corpus-wide groupBy would conclude for a planted pair (the
    census path has NO bucket cap, so the pairwise reduction loses
    nothing). Span recall on the spliced row is governed by geometry,
    not capacity: a doc's 30% chunk must hold >= window INTACT tokens
    for any span to exist (short docs can't — they are the measured
    ~23% miss at sf0.001), and each existing full window then samples
    at 1/mod, an anchor-miss tail of (1 - 1/mod)^k. Both knobs (window,
    mod) trade that operating point against emitted volume.

    Audit cadence: once-per-corpus-revision (same contract as
    minhash_threshold_sweep) — at x100 the 4-plant matrix measured
    69.3x / 236.8 s, dominated by the banded LSH pass over the planted
    corpus; it runs when the corpus or a detector's knobs change, not per
    query. For routine monitoring,
    ``dedup_recall_matrix_sampled`` runs the same 25-cell matrix over
    the ``doc_id % _AUDIT_SAMPLE_MOD`` base slice (~1/5 of plants,
    ~1/25 of LSH pair work; slicing BEFORE planting keeps every planted
    pair whole) — full mode stays the audit of record. Measured at
    x100: sampled 73.3 s vs full 236.8 s (>3x; the matrix's fixed
    banded-pipeline setup amortizes less than the sweep's).
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    if sample_mod is not None:
        docs = docs.filter(F.col("doc_id") % sample_mod == 0)
    mk = {
        "verbatim": F.col("text"),
        "token_reversed": F.array_join(
            F.reverse(X.tokenize(F.col("text"))), " "
        ),
        "prefix_truncated": F.expr(
            "substring(text, 1, CAST((length(text) * 3) div 5 AS INT))"
        ),
        "head_dropped": F.substring(F.col("text"), 21, 1_000_000),
        "mid_spliced": F.expr(
            "concat(reverse(text), ' ', "
            "substring(text, CAST(length(text) div 3 AS INT), "
            "CAST((length(text) * 3) div 10 AS INT)), ' ', "
            "reverse(substring(text, 1, 40)))"
        ),
    }
    plants = [
        docs.select(
            (F.col("doc_id") + off).alias("doc_id"), mk[kind].alias("text")
        )
        for kind, off in _RECALL_PLANTS
    ]
    aug = reduce(lambda a, b: a.unionByName(b), plants, docs)
    mh_pairs = (
        D.minhash_near_dups(
            aug,
            ngram=_MH_NGRAM,
            num_hashes=_MH_K,
            bands=_MH_BANDS,
            threshold=_MH_THRESHOLD,
            max_bucket=_MH_MAX_BUCKET,
        )
        .select("id_a", "id_b")
        # the banded pipeline runs once, eagerly; downstream the planted
        # join sees a flat bounded pair frame (same lineage-truncation
        # the graph family applies to this pipeline)
        .localCheckpoint()
    )
    bksize = (
        aug.groupBy(
            X.h60(F.substring(F.col("text"), 1, _PFX_K)).alias("bk")
        )
        .agg(F.count(F.lit(1)).alias("bn"))
    )
    bag = lambda c: X.h60(F.array_join(F.array_sort(X.tokenize(c)), " "))
    planted = reduce(
        lambda a, b: a.unionByName(b),
        [
            docs.select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + off).alias("id_b"),
                F.lit(kind).alias("plant_kind"),
                F.col("text").alias("text_a"),
                mk[kind].alias("text_b"),
            )
            for kind, off in _RECALL_PLANTS
        ],
    )
    flagged = (
        planted.join(
            mh_pairs.withColumn("mh", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .withColumn(
            "bk_b", X.h60(F.substring(F.col("text_b"), 1, _PFX_K))
        )
        .join(
            bksize.select(F.col("bk").alias("bk_b"), "bn"), "bk_b", "left"
        )
        .select(
            "plant_kind",
            (F.col("text_a") == F.col("text_b")).alias("c_exact"),
            (bag(F.col("text_a")) == bag(F.col("text_b"))).alias("c_bag"),
            (
                (F.length("text_b") < F.length("text_a"))
                & (
                    F.expr(
                        "substring(text_a, 1, CAST(length(text_b) AS INT))"
                    )
                    == F.col("text_b")
                )
                & (
                    X.h60(F.substring(F.col("text_b"), 1, _PFX_K))
                    == X.h60(F.substring(F.col("text_a"), 1, _PFX_K))
                )
                & (F.coalesce(F.col("bn"), F.lit(0)) <= _PFX_CAP)
            ).alias("c_prefix"),
            F.col("mh").isNotNull().alias("c_minhash"),
            (
                F.size(
                    F.array_intersect(
                        D.sampled_spans(
                            F.col("text_a"), _SPAN_W, _SPAN_ANCHOR, _SPAN_MOD
                        ),
                        D.sampled_spans(
                            F.col("text_b"), _SPAN_W, _SPAN_ANCHOR, _SPAN_MOD
                        ),
                    )
                )
                > 0
            ).alias("c_span"),
        )
    )
    melted = flagged.select(
        "plant_kind",
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("modality"),
                    F.col("c_exact").alias("caught"),
                ),
                F.struct(
                    F.lit("bag_of_words").alias("modality"),
                    F.col("c_bag").alias("caught"),
                ),
                F.struct(
                    F.lit("prefix_containment").alias("modality"),
                    F.col("c_prefix").alias("caught"),
                ),
                F.struct(
                    F.lit("minhash_lsh").alias("modality"),
                    F.col("c_minhash").alias("caught"),
                ),
                F.struct(
                    F.lit("substring_span").alias("modality"),
                    F.col("c_span").alias("caught"),
                ),
            )
        ).alias("m"),
    ).select("plant_kind", "m.modality", "m.caught")
    return (
        melted.groupBy("modality", "plant_kind")
        .agg(
            F.count(F.lit(1)).alias("n_planted"),
            F.sum(F.col("caught").cast("long")).alias("n_caught"),
        )
        .select(
            "modality",
            "plant_kind",
            "n_planted",
            "n_caught",
            (
                F.col("n_caught").cast("double")
                / F.col("n_planted").cast("double")
            ).alias("recall"),
        )
    )


def _recall_oracle(sample_mod: int | None = None) -> str:
    lo = X.ascii_lower_sql  # noqa: N806 — SQL twin of the tokenizer fold
    tok = lambda c: f"regexp_extract_all({lo(c)}, '[A-Za-z0-9]+')"
    bag = lambda c: h60_sql(
        f"COALESCE(array_to_string(list_sort({tok(c)}), ' '), '')"
    )
    documents = (
        "documents"
        if sample_mod is None
        else f"(SELECT * FROM documents WHERE doc_id % {sample_mod} = 0)"
    )
    mk_sql = {
        "verbatim": "text",
        "token_reversed": (
            f"COALESCE(array_to_string(list_reverse({tok('text')}), ' '), '')"
        ),
        "prefix_truncated": "substring(text, 1, (length(text) * 3) // 5)",
        "head_dropped": "substring(text, 21, 1000000)",
        "mid_spliced": (
            "reverse(text) || ' ' || "
            "substring(text, length(text) // 3, (length(text) * 3) // 10)"
            " || ' ' || reverse(substring(text, 1, 40))"
        ),
    }
    aug_sql = f"SELECT doc_id, text FROM {documents}" + "".join(
        f" UNION ALL SELECT doc_id + {off} AS doc_id, {mk_sql[kind]} AS text"
        f" FROM {documents}"
        for kind, off in _RECALL_PLANTS
    )
    planted_sql = " UNION ALL ".join(
        f"SELECT doc_id AS id_a, doc_id + {off} AS id_b,"
        f" '{kind}' AS plant_kind, text AS text_a, {mk_sql[kind]} AS text_b"
        f" FROM {documents}"
        for kind, off in _RECALL_PLANTS
    )
    melt_sql = " UNION ALL ".join(
        f"SELECT plant_kind, '{m}' AS modality, {c} AS caught FROM flagged"
        for m, c in (
            ("exact", "c_exact"),
            ("bag_of_words", "c_bag"),
            ("prefix_containment", "c_prefix"),
            ("minhash_lsh", "c_minhash"),
            ("substring_span", "c_span"),
        )
    )
    return f"""
        WITH recall_aug AS MATERIALIZED ({aug_sql}),
        mhp AS MATERIALIZED (
            {_minhash_oracle(_MH_MAX_BUCKET,
                             aug_sql="SELECT doc_id, text FROM recall_aug")}
        ),
        bksize AS (
            SELECT {h60_sql(f'substring(text, 1, {_PFX_K})')} AS bk,
                   count(*) AS bn
            FROM recall_aug GROUP BY 1
        ),
        planted AS MATERIALIZED ({planted_sql}),
        ptok AS MATERIALIZED (
            SELECT q.*, {tok('q.text_a')} AS ta, {tok('q.text_b')} AS tb
            FROM planted q
        ),
        flagged AS (
            SELECT p.plant_kind,
                   (p.text_a = p.text_b) AS c_exact,
                   ({bag('p.text_a')} = {bag('p.text_b')}) AS c_bag,
                   (length(p.text_b) < length(p.text_a)
                    AND substring(p.text_a, 1, length(p.text_b)) = p.text_b
                    AND {h60_sql(f'substring(p.text_b, 1, {_PFX_K})')}
                        = {h60_sql(f'substring(p.text_a, 1, {_PFX_K})')}
                    AND COALESCE(bs.bn, 0) <= {_PFX_CAP}) AS c_prefix,
                   (m.id_a IS NOT NULL) AS c_minhash,
                   (len(list_intersect({_spans_sql('p.ta')},
                                       {_spans_sql('p.tb')})) > 0) AS c_span
            FROM ptok p
            LEFT JOIN mhp m ON p.id_a = m.id_a AND p.id_b = m.id_b
            LEFT JOIN bksize bs
              ON {h60_sql(f'substring(p.text_b, 1, {_PFX_K})')} = bs.bk
        ),
        melted AS ({melt_sql})
        SELECT modality, plant_kind,
               CAST(count(*) AS BIGINT) AS n_planted,
               CAST(sum(CAST(caught AS INT)) AS BIGINT) AS n_caught,
               CAST(sum(CAST(caught AS INT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS recall
        FROM melted GROUP BY 1, 2
    """


register(
    QuerySpec(
        name="dedup_recall_matrix",
        description="recall of exact / bag-of-words / prefix-containment "
        "/ MinHash-LSH / substring-span dedup against five planted "
        "duplicate patterns",
        spark=q_dedup_recall_matrix,
        oracle=_recall_oracle(),
    )
)

register(
    QuerySpec(
        name="dedup_recall_matrix_sampled",
        description="routine-cadence 25-cell dedup recall matrix over "
        "the doc_id % 5 base slice (~1/25 the LSH pair work)",
        spark=lambda spark, sf_dir: q_dedup_recall_matrix(
            spark, sf_dir, _AUDIT_SAMPLE_MOD
        ),
        oracle=_recall_oracle(_AUDIT_SAMPLE_MOD),
    )
)


# ---------------------------------------------------------------------------
# Repeated-line boilerplate census (CCNet / RefinedWeb line-level dedup —
# r10 VERDICT "Next round" #2). Companion to the span detector above: line
# dedup is the cheap exhaustive pass real pipelines run BEFORE MinHash.
# ---------------------------------------------------------------------------

#: Line width for the deterministic line decomposition (operators/dedup.
#: token_lines) and the short-line guard: a recurring line only counts as
#: boilerplate when it has >= _LINE_MIN_TOK tokens (RefinedWeb discards
#: very short lines — ragged 1-2 token tails from a small vocabulary
#: recur by chance and would swamp the signal).
_LINE_W, _LINE_MIN_TOK = 12, 5

#: Planted boilerplate lines (the CCNet case: nav/footer chrome repeated
#: across a site's pages). Lowercase ASCII words only, so the strings
#: survive tokenization verbatim and line text == space-joined tokens.
#: Plant moduli are COPRIME to the corpus's source stride (source =
#: doc_id % 20), so every source gets carriers: header on every 7th doc,
#: footer on every 9th, both on every 63rd.
_LINE_HDR_MOD, _LINE_FTR_MOD = 7, 9
_LINE_HEADER = (
    "subscribe to our newsletter for weekly updates and accept all cookies"
)
_LINE_FOOTER = "all content copyright of the original site owner terms apply"


def _lines_sql(tokens: str, width: int = _LINE_W) -> str:
    """DuckDB twin of operators.dedup.token_lines, bit-for-bit: same
    token list, same ceil(len/width) chunk count, same space-joined
    ragged tail. ``tokens`` should be a cheap reference (a CTE column)."""
    t = f"({tokens})"
    return f"""list_transform(
        range(1, CAST(ceil(len({t}) / {float(width)!r}) AS BIGINT) + 1),
        i -> array_to_string({t}[((i-1)*{width}+1):(i*{width})], ' '))"""


_LINED_DOCS_SQL = f"""
    SELECT doc_id, source,
           CASE WHEN doc_id % {_LINE_HDR_MOD} = 0 THEN ['{_LINE_HEADER}']
                ELSE CAST([] AS VARCHAR[]) END
           || {_lines_sql(_TOKENS_SQL)}
           || CASE WHEN doc_id % {_LINE_FTR_MOD} = 0 THEN ['{_LINE_FOOTER}']
                ELSE CAST([] AS VARCHAR[]) END AS lines
    FROM documents
"""


def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, source, lines): the token_lines decomposition
    with the header line planted on every 7th doc and the footer on every
    9th (same doc, both, every 63rd — the multi-boilerplate case; both
    moduli are coprime to the source stride so every source has carriers).
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.when(
            F.col("doc_id") % _LINE_HDR_MOD == 0, F.array(F.lit(_LINE_HEADER))
        ).otherwise(empty),
        D.token_lines(F.col("text"), _LINE_W),
        F.when(
            F.col("doc_id") % _LINE_FTR_MOD == 0, F.array(F.lit(_LINE_FOOTER))
        ).otherwise(empty),
    )
    return docs.select("doc_id", "source", lines.alias("lines"))


def q_repeated_line_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-document repeated-LINE census — CCNet/RefinedWeb
    line-level dedup, the boilerplate detector that runs before MinHash
    in real web pipelines. A line is boilerplate when the SAME line
    (exact hash) occurs in >= 2 distinct documents and carries >=
    _LINE_MIN_TOK tokens (short ragged tails recur by chance and are
    guarded out, per RefinedWeb).

    Shape (mirrors substring_dup_census — all linear, no pair join,
    nothing to cap): explode_outer the line decomposition (~tokens/width
    rows; zero-line docs ride as one null row so every doc reaches the
    rollup), ONE hash aggregation for per-line distinct-doc counts, a
    line_hash-partitioned left join back onto the occurrences, then
    per-doc and per-source rollups — 4 exchanges. A footer shared by a
    million pages is ONE group with a big count: the degenerate case for
    pairwise detectors is this operator's happy path, which is exactly
    why pipelines run it first.

    Output per source: docs, docs containing >= 1 boilerplate line,
    line occurrences, boilerplate occurrences, boilerplate fraction.
    """
    occ = _lined_docs(spark, sf_dir).select(
        "source", "doc_id", F.explode_outer("lines").alias("line")
    ).select(
        "source",
        "doc_id",
        X.h60(F.col("line")).alias("line_hash"),
        F.size(F.split(F.col("line"), " ")).alias("line_tok"),
    )
    per_line = (
        occ.filter(F.col("line_hash").isNotNull())
        .groupBy("line_hash")
        .agg(F.count_distinct("doc_id").alias("line_docs"))
    )
    per_doc = (
        occ.join(per_line, "line_hash", "left")
        .groupBy("source", "doc_id")
        .agg(
            F.count_if(F.col("line_hash").isNotNull())
            .cast("long")
            .alias("d_lines"),
            F.count_if(
                (F.col("line_docs") >= 2) & (F.col("line_tok") >= _LINE_MIN_TOK)
            )
            .cast("long")
            .alias("d_rep"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("d_rep") > 0).cast("long").alias("boiler_docs"),
        F.sum("d_lines").cast("long").alias("n_lines"),
        F.sum("d_rep").cast("long").alias("n_boiler_lines"),
    ).select(
        "source",
        "n_docs",
        "boiler_docs",
        "n_lines",
        "n_boiler_lines",
        F.when(
            F.col("n_lines") > 0,
            F.col("n_boiler_lines").cast("double")
            / F.col("n_lines").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("boiler_frac"),
    )


register(
    QuerySpec(
        name="repeated_line_census",
        description="CCNet/RefinedWeb line-level dedup census: per-source "
        "counts and fraction of lines recurring across documents",
        spark=q_repeated_line_census,
        oracle=f"""
            WITH lined AS MATERIALIZED ( {_LINED_DOCS_SQL} ),
            occ AS (
                SELECT doc_id, source,
                       {h60_sql('l.line')} AS line_hash,
                       len(string_split(l.line, ' ')) AS line_tok
                FROM lined, unnest(lines) AS l(line)
            ),
            per_line AS (
                SELECT line_hash, count(DISTINCT doc_id) AS line_docs
                FROM occ GROUP BY 1
            ),
            per_doc AS (
                SELECT o.source, o.doc_id,
                       count(*) AS d_lines,
                       sum(CASE WHEN p.line_docs >= 2
                                 AND o.line_tok >= {_LINE_MIN_TOK}
                                THEN 1 ELSE 0 END) AS d_rep
                FROM occ o JOIN per_line p USING (line_hash)
                GROUP BY 1, 2
            ),
            src_docs AS (
                SELECT source, count(*) AS n_docs FROM lined GROUP BY 1
            ),
            census AS (
                SELECT source,
                       sum(CASE WHEN d_rep > 0 THEN 1 ELSE 0 END)
                           AS boiler_docs,
                       sum(d_lines) AS n_lines,
                       sum(d_rep) AS n_boiler_lines
                FROM per_doc GROUP BY 1
            )
            SELECT s.source,
                   CAST(s.n_docs AS BIGINT) AS n_docs,
                   CAST(COALESCE(c.boiler_docs, 0) AS BIGINT) AS boiler_docs,
                   CAST(COALESCE(c.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(COALESCE(c.n_boiler_lines, 0) AS BIGINT)
                       AS n_boiler_lines,
                   CASE WHEN COALESCE(c.n_lines, 0) > 0
                        THEN CAST(c.n_boiler_lines AS DOUBLE)
                             / CAST(c.n_lines AS DOUBLE)
                        ELSE 0.0 END AS boiler_frac
            FROM src_docs s LEFT JOIN census c USING (source)
        """,
    )
)


def q_top_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-document repeated lines — the strip-list a pipeline
    owner feeds back into cleaning. Same line decomposition as the
    census, grouped by line_hash (8-byte shuffle key; the line string
    rides as min(), identical within a group), short-line guard applied,
    TakeOrdered by (docs, occurrences, hash) — deterministic, bounded
    output. The planted header (every 4th doc) and footer (every 6th)
    must head the report by construction."""
    occ = _lined_docs(spark, sf_dir).select(
        "doc_id", F.explode("lines").alias("line")
    ).select("doc_id", "line", X.h60(F.col("line")).alias("line_hash"))
    return (
        occ.groupBy("line_hash")
        .agg(
            F.min("line").alias("line"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(
            (F.col("n_docs") >= 2)
            & (F.size(F.split(F.col("line"), " ")) >= _LINE_MIN_TOK)
        )
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("line_hash")
        )
        .limit(20)
        .select("line_hash", "line", "n_docs", "n_occ")
    )


register(
    QuerySpec(
        name="top_repeated_lines",
        description="top-20 cross-document repeated lines (boilerplate "
        "strip-list) by document spread",
        spark=q_top_repeated_lines,
        oracle=f"""
            WITH lined AS MATERIALIZED ( {_LINED_DOCS_SQL} ),
            occ AS (
                SELECT doc_id, l.line, {h60_sql('l.line')} AS line_hash
                FROM lined, unnest(lines) AS l(line)
            )
            SELECT line_hash,
                   min(line) AS line,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occ
            FROM occ
            GROUP BY line_hash
            HAVING count(DISTINCT doc_id) >= 2
               AND len(string_split(min(line), ' ')) >= {_LINE_MIN_TOK}
            ORDER BY n_docs DESC, n_occ DESC, line_hash
            LIMIT 20
        """,
    )
)


#: Minimum retained tokens for a document to survive line-dedup cleaning
#: (RefinedWeb drops documents that fall below a length floor after
#: boilerplate removal — a doc that was mostly chrome is not worth
#: keeping as a 3-token stub).
_CLEAN_MIN_TOK = 10


def q_line_dedup_cleaning_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE output of line-level dedup — not the census but
    the cleaning plan a 100 TB run materializes: strip every line whose
    exact hash occurs in >= 2 distinct documents (and carries >=
    _LINE_MIN_TOK tokens, the census's short-line guard), then drop
    documents left with < _CLEAN_MIN_TOK tokens. Per source: docs
    in/out, line and char mass before/after, and the retained char
    fraction — the numbers that decide whether a source's allocation
    (q_unimax_allocation) must be re-run post-cleaning.

    Strip-all-copies semantics (CCNet's line dedup): a boilerplate line
    is removed from EVERY carrier, so cleaning is idempotent — every
    retained line is unique to its document, and a second pass strips
    nothing (pinned in tests/test_line_dedup.py).

    Shape: identical linear spine to q_repeated_line_census — one
    explode_outer (~tokens/width rows, empty docs ride as a null row),
    ONE hash agg for per-line doc counts, a line_hash-keyed left join
    back, per-doc then per-source rollups. No pair join, nothing to
    cap; all counts int64, the fraction is one double division.
    """
    occ = _lined_docs(spark, sf_dir).select(
        "source", "doc_id", F.explode_outer("lines").alias("line")
    ).select(
        "source",
        "doc_id",
        X.h60(F.col("line")).alias("line_hash"),
        F.size(F.split(F.col("line"), " ")).alias("line_tok"),
        F.length("line").alias("line_chars"),
    )
    per_line = (
        occ.filter(F.col("line_hash").isNotNull())
        .groupBy("line_hash")
        .agg(F.count_distinct("doc_id").alias("line_docs"))
    )
    strip = (F.col("line_docs") >= 2) & (F.col("line_tok") >= _LINE_MIN_TOK)
    per_doc = (
        occ.join(per_line, "line_hash", "left")
        .groupBy("source", "doc_id")
        .agg(
            F.count_if(F.col("line_hash").isNotNull())
            .cast("long")
            .alias("d_lines"),
            F.count_if(strip).cast("long").alias("d_stripped"),
            F.coalesce(F.sum("line_chars"), F.lit(0))
            .cast("long")
            .alias("d_chars"),
            F.coalesce(
                F.sum(F.when(~strip, F.col("line_chars")).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("d_kept_chars"),
            F.coalesce(
                F.sum(F.when(~strip, F.col("line_tok")).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("d_kept_tok"),
        )
        .withColumn("kept", F.col("d_kept_tok") >= _CLEAN_MIN_TOK)
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("kept")).cast("long").alias("kept_docs"),
        F.sum("d_lines").cast("long").alias("n_lines"),
        F.sum("d_stripped").cast("long").alias("n_stripped_lines"),
        F.sum("d_chars").cast("long").alias("chars_total"),
        F.sum(F.when(F.col("kept"), F.col("d_kept_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    ).select(
        "source",
        "n_docs",
        "kept_docs",
        "n_lines",
        "n_stripped_lines",
        "chars_total",
        "chars_kept",
        F.when(
            F.col("chars_total") > 0,
            F.col("chars_kept").cast("double")
            / F.col("chars_total").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("retained_frac"),
    )


register(
    QuerySpec(
        name="line_dedup_cleaning_plan",
        description="CCNet-style line-dedup cleaning plan: per-source "
        "docs/lines/chars kept after stripping cross-document repeated "
        "lines and dropping sub-minimum documents",
        spark=q_line_dedup_cleaning_plan,
        oracle=f"""
            WITH lined AS MATERIALIZED ( {_LINED_DOCS_SQL} ),
            occ AS (
                SELECT doc_id, source,
                       {h60_sql('l.line')} AS line_hash,
                       len(string_split(l.line, ' ')) AS line_tok,
                       length(l.line) AS line_chars
                FROM lined, unnest(lines) AS l(line)
            ),
            per_line AS (
                SELECT line_hash, count(DISTINCT doc_id) AS line_docs
                FROM occ GROUP BY 1
            ),
            flagged AS (
                SELECT o.source, o.doc_id, o.line_tok, o.line_chars,
                       (p.line_docs >= 2 AND o.line_tok >= {_LINE_MIN_TOK})
                           AS strip
                FROM occ o JOIN per_line p USING (line_hash)
            ),
            per_doc AS (
                SELECT source, doc_id,
                       count(*) AS d_lines,
                       sum(CASE WHEN strip THEN 1 ELSE 0 END) AS d_stripped,
                       sum(line_chars) AS d_chars,
                       sum(CASE WHEN NOT strip THEN line_chars ELSE 0 END)
                           AS d_kept_chars,
                       sum(CASE WHEN NOT strip THEN line_tok ELSE 0 END)
                           AS d_kept_tok
                FROM flagged GROUP BY 1, 2
            ),
            src_docs AS (
                SELECT source, count(*) AS n_docs FROM lined GROUP BY 1
            ),
            census AS (
                SELECT source,
                       sum(CASE WHEN d_kept_tok >= {_CLEAN_MIN_TOK}
                                THEN 1 ELSE 0 END) AS kept_docs,
                       sum(d_lines) AS n_lines,
                       sum(d_stripped) AS n_stripped_lines,
                       sum(d_chars) AS chars_total,
                       sum(CASE WHEN d_kept_tok >= {_CLEAN_MIN_TOK}
                                THEN d_kept_chars ELSE 0 END) AS chars_kept
                FROM per_doc GROUP BY 1
            )
            SELECT s.source,
                   CAST(s.n_docs AS BIGINT) AS n_docs,
                   CAST(COALESCE(c.kept_docs, 0) AS BIGINT) AS kept_docs,
                   CAST(COALESCE(c.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(COALESCE(c.n_stripped_lines, 0) AS BIGINT)
                       AS n_stripped_lines,
                   CAST(COALESCE(c.chars_total, 0) AS BIGINT) AS chars_total,
                   CAST(COALESCE(c.chars_kept, 0) AS BIGINT) AS chars_kept,
                   CASE WHEN COALESCE(c.chars_total, 0) > 0
                        THEN CAST(c.chars_kept AS DOUBLE)
                             / CAST(c.chars_total AS DOUBLE)
                        ELSE 0.0 END AS retained_frac
            FROM src_docs s LEFT JOIN census c USING (source)
        """,
    )
)


# ---------------------------------------------------------------------------
# Post-dedup mixture drift (r11): dedup changes the mixture you sampled.
# ---------------------------------------------------------------------------


def q_post_dedup_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How exact dedup SHIFTS the corpus mixture — per source, doc/char
    mass before and after keeping one copy per sha256 content group
    (keeper = min doc_id corpus-wide, the exact_dedup_groups canonical
    rule), and the per-source share drift in exact basis points. This is
    the audit that decides whether a mixture computed pre-dedup
    (q_unimax_allocation, quotas, temperature sampling) must be re-run:
    duplicates concentrate in template-heavy sources, so dedup silently
    reweights the corpus toward the clean ones.

    Planted structure (the test corpus has no NATURAL exact dups at
    small SFs): every 4th document's text is syndicated verbatim into
    the ROTATED source — source of ``(doc_id + 1) % 20`` via a 20-row
    source map derived from the data itself — modeling cross-source
    republication. Because 4 | 20, exactly 5 of the 20 sources receive
    copies; dedup's min-doc_id keeper always picks the original, so
    receiver sources lose their entire syndicated mass and the matrix
    shows sharp, deterministic drift (pinned in tests/test_extensions).

    Exactness: shares are int64 floor-division basis points
    ``(10000 * chars) div total`` — int64 bound: 10000 * chars_total
    < 2^63 holds to ~9.2e14 chars (~900 TB of text) per side; drift is
    an int64 difference of two such shares.

    Plan: ONE exchange for the content-hash window (partitions are
    exact-dup groups — tiny by construction; min over the group marks
    keepers with no join back), a broadcast 20-row source-map join for
    the plant, one 20-row source rollup, and the corpus totals ride a
    1-row broadcast crossJoin. No pair work at all: like the cleaning
    plan, a million-copy template is one window partition, the
    degenerate case pairwise detectors cap away is this operator's
    happy path.
    """
    base = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars", "text"
    )
    srcmap = (
        base.groupBy((F.col("doc_id") % 20).alias("k"))
        .agg(F.min("source").alias("c_source"))
    )
    copies = (
        base.filter(F.col("doc_id") % 4 == 0)
        .withColumn("k", (F.col("doc_id") + 1) % 20)
        .join(F.broadcast(srcmap), "k")
        .select(
            (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
            F.col("c_source").alias("source"),
            "n_chars",
            "text",
        )
    )
    docs = base.unionByName(copies).select(
        "doc_id", "source", "n_chars", F.sha2(F.col("text"), 256).alias("h")
    )
    wk = Window.partitionBy("h")
    flagged = docs.withColumn(
        "kept", F.col("doc_id") == F.min("doc_id").over(wk)
    )
    per_src = (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_before"),
            F.count_if(F.col("kept")).cast("long").alias("docs_after"),
            F.sum("n_chars").cast("long").alias("chars_before"),
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_after"),
        )
        .localCheckpoint()  # 20 rows, feeds the total and the report
    )
    tot = per_src.agg(
        F.sum("chars_before").cast("long").alias("tb"),
        F.sum("chars_after").cast("long").alias("ta"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "docs_before",
            "docs_after",
            "chars_before",
            "chars_after",
            F.expr("(10000 * chars_before) div tb")
            .cast("long")
            .alias("share_before_bp"),
            F.expr("(10000 * chars_after) div ta")
            .cast("long")
            .alias("share_after_bp"),
            F.expr(
                "(10000 * chars_after) div ta - (10000 * chars_before) div tb"
            )
            .cast("long")
            .alias("drift_bp"),
        )
    )


register(
    QuerySpec(
        name="post_dedup_mixture_drift",
        description="per-source corpus-share drift (exact basis points) "
        "after exact dedup keeps one copy per content hash",
        spark=q_post_dedup_mixture_drift,
        oracle=f"""
            WITH srcmap AS (
                SELECT doc_id % 20 AS k, min(source) AS c_source
                FROM documents GROUP BY 1
            ),
            aug AS (
                SELECT doc_id, source, n_chars, text FROM documents
                UNION ALL
                SELECT d.doc_id + {_AUG_OFFSET} AS doc_id,
                       s.c_source AS source, d.n_chars, d.text
                FROM documents d
                JOIN srcmap s ON (d.doc_id + 1) % 20 = s.k
                WHERE d.doc_id % 4 = 0
            ),
            hashed AS (
                SELECT doc_id, source, n_chars, sha256(text) AS h
                FROM aug
            ),
            flagged AS (
                SELECT source, n_chars,
                       (doc_id = min(doc_id) OVER (PARTITION BY h)) AS kept
                FROM hashed
            ),
            per_src AS (
                SELECT source,
                       count(*) AS docs_before,
                       sum(CASE WHEN kept THEN 1 ELSE 0 END) AS docs_after,
                       sum(n_chars) AS chars_before,
                       sum(CASE WHEN kept THEN n_chars ELSE 0 END)
                           AS chars_after
                FROM flagged GROUP BY 1
            ),
            tot AS (
                SELECT CAST(sum(chars_before) AS BIGINT) AS tb,
                       CAST(sum(chars_after) AS BIGINT) AS ta
                FROM per_src
            )
            SELECT source,
                   CAST(docs_before AS BIGINT) AS docs_before,
                   CAST(docs_after AS BIGINT) AS docs_after,
                   CAST(chars_before AS BIGINT) AS chars_before,
                   CAST(chars_after AS BIGINT) AS chars_after,
                   CAST((10000 * chars_before) // tb AS BIGINT)
                       AS share_before_bp,
                   CAST((10000 * chars_after) // ta AS BIGINT)
                       AS share_after_bp,
                   CAST((10000 * chars_after) // ta
                        - (10000 * chars_before) // tb AS BIGINT)
                       AS drift_bp
            FROM per_src, tot
        """,
    )
)


# ---------------------------------------------------------------------------
# PII scrub plan (r11): the C4/RefinedWeb redaction pass, census + plan.
# ---------------------------------------------------------------------------

#: PII patterns, deliberately restricted to the regex subset whose
#: semantics are IDENTICAL in Java regex (Spark) and RE2-ish DuckDB:
#: character classes, bounded/unbounded greedy repetition, literal
#: anchors — no backrefs, no lookaround, no \b. regexp_extract_all is
#: leftmost non-overlapping in both engines.
_PII_PATTERNS = (
    ("email", "[a-z0-9]+@[a-z0-9]+[.][a-z]+"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"),
)

#: Planted PII (the word-salad corpus has none naturally): moduli coprime
#: to the doc_id % 20 source stride so every source has carriers of each
#: type. The email embeds doc_id so planted values are distinct; phone
#: and IP are fixed boilerplate-style literals.
_PII_EMAIL_MOD, _PII_PHONE_MOD, _PII_IP_MOD = 11, 13, 17


def q_pii_scrub_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction plan a C4/RefinedWeb-style cleaning pass
    materializes before training: per source, how many documents carry
    PII-shaped spans (emails, phone numbers, IPv4 addresses), the match
    counts per type, and the exact char mass a redactor would remove —
    the number that decides whether redaction meaningfully shifts the
    mixture (compose with post_dedup_mixture_drift's share math).

    Planted structure: every 11th doc gains a doc_id-bearing email,
    every 13th a phone, every 17th an IP (all moduli coprime to the
    source stride; every 2431st doc carries all three). Detection runs
    over the PLANTED text with the same leftmost-non-overlapping
    ``regexp_extract_all`` in both engines, restricted to the
    dialect-safe regex subset (_PII_PATTERNS).

    Exactness: counts are int64; redact_chars folds match lengths
    through an int64 ``F.aggregate``; the fraction is one double
    division. Plan: ONE corpus scan into a 20-row hash agg (map-side
    combined) — the regex work is codegen-side, no explode, no Python.

    r12: the scan is spread when narrow — this query is six
    regexp_extract_all passes per document (exactly the regex-heavy
    per-row profile that cleared the spread bar in r11's measurements),
    and it landed mid-BUILD in r11 without the guard, so at driver SFs
    the whole regex stage ran on the one-file scan's single task. The
    exchange carries raw rows but the agg above is 20 rows; no-op on a
    real multi-split scan.
    """
    base = spread_if_narrow(
        load_table(spark, "documents", sf_dir).select(
            "source", "doc_id", "text"
        )
    )
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % _PII_EMAIL_MOD == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % _PII_PHONE_MOD == 0,
            F.lit(" call 555-123-4567 now"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % _PII_IP_MOD == 0,
            F.lit(" server 192.168.1.1 down"),
        ).otherwise(F.lit("")),
    )
    d = base.withColumn("t", planted)
    cols = {"n_chars_planted": F.length("t").cast("long")}
    hit_any = F.lit(False)
    for kind, pat in _PII_PATTERNS:
        matches = F.expr(f"regexp_extract_all(t, '{pat}', 0)")
        cols[f"n_{kind}"] = F.size(matches).cast("long")
        cols[f"c_{kind}"] = F.expr(
            f"aggregate(regexp_extract_all(t, '{pat}', 0), 0L,"
            " (a, x) -> a + length(x))"
        ).cast("long")
        hit_any = hit_any | (F.size(matches) > 0)
    per_doc = d.select(
        "source",
        hit_any.alias("has_pii"),
        *[v.alias(k) for k, v in cols.items()],
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("has_pii")).cast("long").alias("pii_docs"),
            *[
                F.sum(f"n_{kind}").cast("long").alias(f"n_{kind}")
                for kind, _ in _PII_PATTERNS
            ],
            F.sum(
                sum(
                    (F.col(f"c_{kind}") for kind, _ in _PII_PATTERNS),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("redact_chars"),
            F.sum("n_chars_planted").cast("long").alias("chars_scanned"),
        )
        .select(
            "source",
            "n_docs",
            "pii_docs",
            "n_email",
            "n_phone",
            "n_ipv4",
            "redact_chars",
            "chars_scanned",
            (
                F.col("redact_chars").cast("double")
                / F.col("chars_scanned").cast("double")
            ).alias("redact_frac"),
        )
    )


def _pii_oracle() -> str:
    plant = (
        "text"
        f" || CASE WHEN doc_id % {_PII_EMAIL_MOD} = 0"
        " THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " ELSE '' END"
        f" || CASE WHEN doc_id % {_PII_PHONE_MOD} = 0"
        " THEN ' call 555-123-4567 now' ELSE '' END"
        f" || CASE WHEN doc_id % {_PII_IP_MOD} = 0"
        " THEN ' server 192.168.1.1 down' ELSE '' END"
    )
    per_kind = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{kind},"
        f" COALESCE(list_sum(list_transform(regexp_extract_all(t, '{pat}'),"
        f" x -> length(x))), 0) AS c_{kind}"
        for kind, pat in _PII_PATTERNS
    )
    n_sum = " + ".join(f"n_{kind}" for kind, _ in _PII_PATTERNS)
    c_sum = " + ".join(f"c_{kind}" for kind, _ in _PII_PATTERNS)
    return f"""
        WITH planted AS (
            SELECT source, doc_id, {plant} AS t FROM documents
        ),
        per_doc AS (
            SELECT source, length(t) AS n_chars_planted, {per_kind}
            FROM planted
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN {n_sum} > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS pii_docs,
               CAST(sum(n_email) AS BIGINT) AS n_email,
               CAST(sum(n_phone) AS BIGINT) AS n_phone,
               CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
               CAST(sum({c_sum}) AS BIGINT) AS redact_chars,
               CAST(sum(n_chars_planted) AS BIGINT) AS chars_scanned,
               CAST(sum({c_sum}) AS DOUBLE) / CAST(sum(n_chars_planted)
                   AS DOUBLE) AS redact_frac
        FROM per_doc GROUP BY source
    """


register(
    QuerySpec(
        name="pii_scrub_plan",
        description="PII redaction census + plan: per-source email/phone"
        "/IPv4 match counts and the exact char mass a redactor removes",
        spark=q_pii_scrub_plan,
        oracle=_pii_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Encoding integrity census (r11): mojibake / control-char artifacts.
# ---------------------------------------------------------------------------

#: Artifact plants for the encoding census (the word-salad corpus is
#: clean ASCII): U+FFFD on every 19th doc (the decoder-replacement
#: mojibake marker), BEL (\x07, a C0 control char) on every 23rd —
#: moduli coprime to the doc_id % 20 source stride. Patterns stay in
#: the Java/RE2-common subset; \t \n \r are NOT counted as artifacts.
_ENC_FFFD_MOD, _ENC_CTRL_MOD = 19, 23
#: DuckDB-side C0 class uses RE2 \x escapes; the Spark side builds the
#: SAME class from chr() and ships it as a Column literal
#: (F.regexp_extract_all with a lit pattern) because Spark's SQL string
#: parser mangles \x escapes inside F.expr literals ('\x00' -> 'x00',
#: silently turning the class into [x00-...] — measured 124k false
#: matches at sf0.001 before this was caught by the planted-count test).
_ENC_CTRL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
_ENC_CTRL_CLASS_RAW = (
    f"[{chr(0)}-{chr(8)}{chr(11)}{chr(12)}{chr(14)}-{chr(31)}]"
)


def q_encoding_integrity_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source encoding-artifact census — the CCNet-style "garbage"
    check a web pipeline runs before quality scoring: documents
    carrying U+FFFD replacement characters (mis-decoded bytes) or C0
    control characters (binary bleed-through), with per-type char
    counts and the affected-doc fraction. Completes the cleaning trio:
    repeated-line boilerplate (structure), PII (content), encoding
    (representation).

    Planted structure: U+FFFD appended to every 19th doc, BEL to every
    23rd (coprime to the source stride; every 437th doc carries both).
    Counting uses ``regexp_extract_all`` length with patterns from the
    dialect-safe subset — the C0 class spells out hex ranges and
    excludes tab/newline/CR, identical semantics in Java regex and
    DuckDB's RE2.

    Exactness: all counts int64; the fraction is one double division.
    Plan: ONE codegen-side corpus scan into a 20-row map-side-combined
    agg — the same single-exchange shape as pii_scrub_plan.
    """
    base = load_table(spark, "documents", sf_dir).select(
        "source", "doc_id", "text"
    )
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % _ENC_FFFD_MOD == 0,
            F.lit(" broken � run"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % _ENC_CTRL_MOD == 0,
            F.lit(" bell \x07 noise"),
        ).otherwise(F.lit("")),
    )
    d = base.withColumn("t", planted)
    n_fffd = F.size(
        F.regexp_extract_all(F.col("t"), F.lit("�"), F.lit(0))
    ).cast("long")
    n_ctrl = F.size(
        F.regexp_extract_all(
            F.col("t"), F.lit(_ENC_CTRL_CLASS_RAW), F.lit(0)
        )
    ).cast("long")
    per_doc = d.select(
        "source",
        n_fffd.alias("d_fffd"),
        n_ctrl.alias("d_ctrl"),
        F.length("t").cast("long").alias("d_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if((F.col("d_fffd") > 0) | (F.col("d_ctrl") > 0))
            .cast("long")
            .alias("artifact_docs"),
            F.sum("d_fffd").cast("long").alias("n_fffd"),
            F.sum("d_ctrl").cast("long").alias("n_ctrl"),
            F.sum("d_chars").cast("long").alias("chars_scanned"),
        )
        .select(
            "source",
            "n_docs",
            "artifact_docs",
            "n_fffd",
            "n_ctrl",
            "chars_scanned",
            (
                F.col("artifact_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("artifact_doc_frac"),
        )
    )


def _encoding_oracle() -> str:
    plant = (
        "text"
        f" || CASE WHEN doc_id % {_ENC_FFFD_MOD} = 0"
        " THEN ' broken ' || chr(65533) || ' run' ELSE '' END"
        f" || CASE WHEN doc_id % {_ENC_CTRL_MOD} = 0"
        " THEN ' bell ' || chr(7) || ' noise' ELSE '' END"
    )
    return f"""
        WITH planted AS (
            SELECT source, doc_id, {plant} AS t FROM documents
        ),
        per_doc AS (
            SELECT source,
                   len(regexp_extract_all(t, chr(65533))) AS d_fffd,
                   len(regexp_extract_all(t, '{_ENC_CTRL_CLASS}'))
                       AS d_ctrl,
                   length(t) AS d_chars
            FROM planted
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN d_fffd > 0 OR d_ctrl > 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS artifact_docs,
               CAST(sum(d_fffd) AS BIGINT) AS n_fffd,
               CAST(sum(d_ctrl) AS BIGINT) AS n_ctrl,
               CAST(sum(d_chars) AS BIGINT) AS chars_scanned,
               CAST(sum(CASE WHEN d_fffd > 0 OR d_ctrl > 0 THEN 1 ELSE 0
                        END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS artifact_doc_frac
        FROM per_doc GROUP BY source
    """


register(
    QuerySpec(
        name="encoding_integrity_census",
        description="per-source mojibake/control-char artifact census "
        "(U+FFFD and C0 counts, affected-doc fraction)",
        spark=q_encoding_integrity_census,
        oracle=_encoding_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Cleaning funnel report (r11 capstone): the end-to-end survivor funnel.
# ---------------------------------------------------------------------------


#: Pure-chrome plant for the funnel: every 29th doc (coprime to the
#: source stride and every other plant modulus) is REPLACED by this
#: EXACTLY-12-token boilerplate line plus a unique 1-token tail — the
#: tail lands in its own second token_lines(width=12) line, so the
#: shared line is cross-document repeated (stripped) while the full
#: text stays distinct (exact dedup cannot catch it) and the surviving
#: 1 token is under _CLEAN_MIN_TOK (the doc dies at the boilerplate
#: stage, and ONLY there).
_FUNNEL_CHROME_MOD = 29
_FUNNEL_BOILER = (
    "click here to sign up for our daily digest and special offers"
)
assert len(_FUNNEL_BOILER.split()) == _LINE_W


def q_cleaning_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel a pipeline owner reads after wiring the whole cleaning
    stack: per source, how many documents survive each stage, applied in
    the production order (CCNet-style: exact dedup runs EARLY, before
    line-level dedup, precisely so whole-document copies don't turn
    every one of their lines into "cross-document boilerplate") —

    1. corpus = documents with two plants applied: every 29th doc is
       REPLACED by a shared 12-token boilerplate line plus a unique
       1-token tail (the pure-chrome page: distinct text, so exact
       dedup cannot catch it, but every content line is cross-document
       repeated); then every 4th doc's text is syndicated verbatim into
       the rotated source (the mixture-drift plant, exact dups at every
       SF);
    2. ENCODING gate: drop docs carrying U+FFFD / C0 artifacts (the
       encoding census's moduli);
    3. EXACT DEDUP: keep min-doc_id per sha256 among encoding
       survivors — kills the syndicated copies;
    4. BOILERPLATE strip over the DEDUPED corpus: remove cross-document
       repeated lines (>=5-token guard), then drop docs left under
       _CLEAN_MIN_TOK tokens — kills the pure-chrome plants (their
       surviving unique tail is 1 token);
    5. PII: redact-in-place among final survivors (counted, not
       dropped — the C4 policy).

    Every stage has a deterministic non-vacuous drop, and each stage's
    arithmetic is pinned by its own family's oracled query; this report
    composes them. The artifact/PII flags use the plant moduli directly
    (this query owns the plant; the per-family censuses pin the
    modulus<->regex equivalence against the real patterns).

    Plan: encoding+dedup are flag logic plus one content-hash window;
    the line spine (explode + per-line agg + hash join back) runs over
    the already-deduped survivor set — strictly less work than the
    census's full-corpus pass; one 20-row rollup each for the head and
    tail of the funnel.
    """
    base = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    chrome = F.when(
        F.col("doc_id") % _FUNNEL_CHROME_MOD == 0,
        F.concat(
            F.lit(_FUNNEL_BOILER + " u"), F.col("doc_id").cast("string")
        ),
    ).otherwise(F.col("text"))
    planted = base.select("doc_id", "source", chrome.alias("text"))
    srcmap = (
        base.groupBy((F.col("doc_id") % 20).alias("k"))
        .agg(F.min("source").alias("c_source"))
        .localCheckpoint()  # 20 rows, reused by every corpus branch
    )
    copies = (
        planted.filter(F.col("doc_id") % 4 == 0)
        .withColumn("k", (F.col("doc_id") + 1) % 20)
        .join(F.broadcast(srcmap), "k")
        .select(
            (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
            F.col("c_source").alias("source"),
            "text",
        )
    )
    corpus = planted.unionByName(copies)

    has_artifact = (F.col("doc_id") % _ENC_FFFD_MOD == 0) | (
        F.col("doc_id") % _ENC_CTRL_MOD == 0
    )
    has_pii = (
        (F.col("doc_id") % _PII_EMAIL_MOD == 0)
        | (F.col("doc_id") % _PII_PHONE_MOD == 0)
        | (F.col("doc_id") % _PII_IP_MOD == 0)
    )
    flagged = corpus.select(
        "doc_id",
        "source",
        "text",
        has_artifact.alias("artifact"),
        has_pii.alias("pii"),
    )
    s1 = flagged.filter(~F.col("artifact"))
    wk = Window.partitionBy(F.sha2(F.col("text"), 256))
    s2 = (
        s1.withColumn("keep", F.col("doc_id") == F.min("doc_id").over(wk))
        .filter(F.col("keep"))
        .select("doc_id", "source", "text", "pii")
    )
    lined = s2.select(
        "doc_id",
        "source",
        "pii",
        F.explode_outer(D.token_lines(F.col("text"), _LINE_W)).alias(
            "line"
        ),
    ).select(
        "doc_id",
        "source",
        "pii",
        X.h60(F.col("line")).alias("line_hash"),
        F.size(F.split(F.col("line"), " ")).alias("line_tok"),
    )
    per_line = (
        lined.filter(F.col("line_hash").isNotNull())
        .groupBy("line_hash")
        .agg(F.count_distinct("doc_id").alias("line_docs"))
    )
    strip = (F.col("line_docs") >= 2) & (F.col("line_tok") >= _LINE_MIN_TOK)
    per_doc = (
        lined.join(per_line, "line_hash", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.first("pii").alias("pii"),
            F.coalesce(
                F.sum(F.when(~strip, F.col("line_tok")).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("kept_tok"),
        )
    )
    head = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.count_if(~F.col("artifact")).cast("long").alias("after_encoding"),
    )
    # after_dedup / kept / pii come from ONE aggregate over per_doc —
    # every s2 survivor reaches per_doc (explode_outer keeps zero-line
    # docs), so count(*) here IS the post-dedup census and the
    # boilerplate gate is a conditional count, not a second pipeline
    survive = F.col("kept_tok") >= _CLEAN_MIN_TOK
    tail = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("after_dedup"),
        F.count_if(survive).cast("long").alias("kept_docs"),
        F.count_if(survive & F.col("pii")).cast("long").alias(
            "pii_redacted"
        ),
    )
    return (
        head.join(F.broadcast(tail), "source", "left")
        .select(
            "source",
            "docs_in",
            "after_encoding",
            F.coalesce(F.col("after_dedup"), F.lit(0).cast("long")).alias(
                "after_dedup"
            ),
            F.coalesce(F.col("kept_docs"), F.lit(0).cast("long")).alias(
                "kept_docs"
            ),
            F.coalesce(F.col("pii_redacted"), F.lit(0).cast("long")).alias(
                "pii_redacted"
            ),
            (
                F.coalesce(F.col("kept_docs"), F.lit(0)).cast("double")
                / F.col("docs_in").cast("double")
            ).alias("kept_frac"),
        )
    )


def _funnel_oracle() -> str:
    return f"""
        WITH srcmap AS (
            SELECT doc_id % 20 AS k, min(source) AS c_source
            FROM documents GROUP BY 1
        ),
        plantbase AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % {_FUNNEL_CHROME_MOD} = 0
                        THEN '{_FUNNEL_BOILER} u' || CAST(doc_id AS VARCHAR)
                        ELSE text END AS text
            FROM documents
        ),
        corpus AS MATERIALIZED (
            SELECT doc_id, source, text FROM plantbase
            UNION ALL
            SELECT d.doc_id + {_AUG_OFFSET}, s.c_source, d.text
            FROM plantbase d
            JOIN srcmap s ON (d.doc_id + 1) % 20 = s.k
            WHERE d.doc_id % 4 = 0
        ),
        flagged AS (
            SELECT doc_id, source, text,
                   (doc_id % {_ENC_FFFD_MOD} = 0
                    OR doc_id % {_ENC_CTRL_MOD} = 0) AS artifact,
                   (doc_id % {_PII_EMAIL_MOD} = 0
                    OR doc_id % {_PII_PHONE_MOD} = 0
                    OR doc_id % {_PII_IP_MOD} = 0) AS pii
            FROM corpus
        ),
        s2 AS MATERIALIZED (
            SELECT doc_id, source, text, pii
            FROM (
                SELECT *, (doc_id = min(doc_id)
                           OVER (PARTITION BY sha256(text))) AS keep
                FROM flagged WHERE NOT artifact
            ) WHERE keep
        ),
        lined AS (
            SELECT doc_id, source, pii,
                   {h60_sql('l.line')} AS line_hash,
                   len(string_split(l.line, ' ')) AS line_tok
            FROM s2, unnest({_lines_sql(_TOKENS_SQL)}) AS l(line)
        ),
        per_line AS (
            SELECT line_hash, count(DISTINCT doc_id) AS line_docs
            FROM lined GROUP BY 1
        ),
        per_doc AS (
            SELECT o.doc_id, o.source, bool_or(o.pii) AS pii,
                   sum(CASE WHEN NOT (p.line_docs >= 2
                                      AND o.line_tok >= {_LINE_MIN_TOK})
                            THEN o.line_tok ELSE 0 END) AS kept_tok
            FROM lined o JOIN per_line p USING (line_hash)
            GROUP BY 1, 2
        ),
        s3 AS (
            SELECT doc_id, source, pii FROM per_doc
            WHERE kept_tok >= {_CLEAN_MIN_TOK}
        ),
        head AS (
            SELECT source, count(*) AS docs_in,
                   sum(CASE WHEN NOT artifact THEN 1 ELSE 0 END)
                       AS after_encoding
            FROM flagged GROUP BY 1
        ),
        mid AS (SELECT source, count(*) AS after_dedup FROM s2 GROUP BY 1),
        tail AS (
            SELECT source, count(*) AS kept_docs,
                   sum(CASE WHEN pii THEN 1 ELSE 0 END) AS pii_redacted
            FROM s3 GROUP BY 1
        )
        SELECT h.source,
               CAST(h.docs_in AS BIGINT) AS docs_in,
               CAST(h.after_encoding AS BIGINT) AS after_encoding,
               CAST(COALESCE(m.after_dedup, 0) AS BIGINT) AS after_dedup,
               CAST(COALESCE(t.kept_docs, 0) AS BIGINT) AS kept_docs,
               CAST(COALESCE(t.pii_redacted, 0) AS BIGINT) AS pii_redacted,
               CAST(COALESCE(t.kept_docs, 0) AS DOUBLE)
                   / CAST(h.docs_in AS DOUBLE) AS kept_frac
        FROM head h
        LEFT JOIN mid m USING (source)
        LEFT JOIN tail t USING (source)
    """


register(
    QuerySpec(
        name="cleaning_funnel_report",
        description="end-to-end cleaning funnel: per-source survivors "
        "through encoding gate -> exact dedup -> boilerplate strip + "
        "min-length -> PII redaction census",
        spark=q_cleaning_funnel_report,
        oracle=_funnel_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Vocabulary growth curve (r11): Heaps-law audit per source.
# ---------------------------------------------------------------------------


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per source: distinct-token count as a
    function of corpus fraction — the curve that says whether MORE data
    from a source still buys new vocabulary (natural text keeps growing
    ~ N^beta; template/spam sources flatline, and a flat curve at small
    fractions is the cheap tell).

    The fraction axis is a RANDOM subsample, not ingestion order: each
    document lands in one of 10 buckets by uniform hash
    (h60('vg:' || doc_id) % 10 + 1 — modulo, NOT a *10 scale, which
    would overflow int64 at h > 2^59.8; the mod-10 bias over a 2^60
    hash space is 6/2^60, and identical in both engines, which is what
    the hash check needs), and the curve reports cumulative distinct
    vocabulary and token mass over buckets 1..d. Random subsampling is
    the statistically right x-axis for Heaps (ingestion order conflates
    topical drift with growth) AND the scale-right plan: no per-source
    window over the corpus at all — a token's first-seen bucket is
    ``min(bucket)`` in the same hash aggregation that dedups it, and
    the cumulative sums run over the 200-row (source, decile) grid.

    Exactness: all counts int64; no division at all. Plan: one
    tokenize+explode into a (source, token) agg carrying min(bucket)
    and count; two tiny grid rollups + one 200-row window.
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("text").isNotNull())
    bucket = (
        X.h60(F.concat(F.lit("vg:"), F.col("doc_id").cast("string")))
        % F.lit(10)
        + F.lit(1)
    ).cast("int")
    toks = docs.select(
        "source",
        bucket.alias("b"),
        F.explode(X.tokenize(F.col("text"))).alias("token"),
    )
    per_tok = toks.groupBy("source", "token").agg(
        F.min("b").alias("first_b")
    )
    # occurrences per (source, bucket) need the per-bucket split, which
    # the (source, token) agg above collapses — count them directly from
    # the exploded frame (same shuffle key family, map-side combined)
    occ = toks.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    vocab = per_tok.groupBy("source", F.col("first_b").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("new_vocab")
    )
    # complete (source x decile) grid: a decile that happened to receive
    # no documents still gets a curve point carrying the running totals
    full = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("b"),
        )
    )
    grid = (
        full.join(occ, ["source", "b"], "left")
        .join(vocab, ["source", "b"], "left")
        .select(
            "source",
            "b",
            F.coalesce(F.col("occ"), F.lit(0).cast("long")).alias("occ"),
            F.coalesce(F.col("new_vocab"), F.lit(0).cast("long")).alias(
                "new_vocab"
            ),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        "source",
        F.col("b").alias("decile"),
        F.sum("occ").over(w).cast("long").alias("tokens_cum"),
        F.sum("new_vocab").over(w).cast("long").alias("vocab_cum"),
    )


def _vocab_growth_oracle() -> str:
    h = h60_sql("'vg:' || CAST(doc_id AS VARCHAR)")
    bucket = f"CAST({h} % 10 AS INT) + 1"
    return f"""
        WITH toks AS (
            SELECT source, {bucket} AS b, t.token
            FROM documents, unnest({_TOKENS_SQL}) AS t(token)
            WHERE text IS NOT NULL
        ),
        per_tok AS (
            SELECT source, token, min(b) AS first_b
            FROM toks GROUP BY 1, 2
        ),
        occ AS (
            SELECT source, b, count(*) AS occ FROM toks GROUP BY 1, 2
        ),
        vocab AS (
            SELECT source, first_b AS b, count(*) AS new_vocab
            FROM per_tok GROUP BY 1, 2
        ),
        full_grid AS (
            SELECT s.source, CAST(r.b AS INT) AS b
            FROM (SELECT DISTINCT source FROM documents
                  WHERE text IS NOT NULL) s,
                 range(1, 11) r(b)
        ),
        grid AS (
            SELECT f.source, f.b,
                   COALESCE(o.occ, 0) AS occ,
                   COALESCE(v.new_vocab, 0) AS new_vocab
            FROM full_grid f
            LEFT JOIN occ o ON f.source = o.source AND f.b = o.b
            LEFT JOIN vocab v ON f.source = v.source AND f.b = v.b
        )
        SELECT source,
               CAST(b AS INT) AS decile,
               CAST(sum(occ) OVER (PARTITION BY source ORDER BY b
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum,
               CAST(sum(new_vocab) OVER (PARTITION BY source ORDER BY b
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
        FROM grid
    """


register(
    QuerySpec(
        name="vocab_growth_curve",
        description="Heaps-law vocabulary growth per source over "
        "hash-decile subsamples (cumulative vocab + token mass)",
        spark=q_vocab_growth_curve,
        oracle=_vocab_growth_oracle(),
    )
)
