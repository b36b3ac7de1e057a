"""Deduplication operators for LLM data pipelines (SURVEY.md §7 Phase 4).

Five families, all Spark-first:

- exact: content-hash groupBy (one shuffle on the hash)
- MinHash + LSH: shingle -> k minhashes -> banded bucket join -> exact
  Jaccard verify. Candidate generation touches only same-bucket pairs —
  the 100 TB path (all-pairs is quadratic; LSH is ~linear in docs+pairs)
- SimHash: 64-bit bit-voting signature; near-dups share bands/prefixes
- n-gram Jaccard: exact pairwise similarity within cheap blocks
- embedding cosine: exact pairwise cosine within blocks (the brute-force
  baseline; the LSH path for vectors lives in operators/similarity.py)

Everything is built on the md5-derived :func:`..operators.text.h60` hash so
DuckDB oracles reproduce every signature bit-for-bit: same hashes -> same
buckets -> same candidate pairs -> same verified output (no probabilistic
mismatch between engine and oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import h60, tokenize, word_ngrams

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping by sha256 of the raw text.

    Output: one row per document with its content hash, the canonical
    (minimum) id of its duplicate group, and the group size. A plain
    keep-first dedup is ``filter(id == canonical_id)``.
    """
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash")
    )
    groups = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return hashed.join(groups, "content_hash").select(
        id_col, "content_hash", "canonical_id", "group_size"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """k-permutation MinHash: min over shingles of h60(seed || shingle).

    Seeded string-concat hashing instead of the classic (a*x+b) mod p so the
    oracle can reproduce it; statistically it is the same construction
    (k independent hash functions).
    """

    def seeded_min(seed: int) -> Column:
        prefix = f"{seed}:"
        # one-arg lambda only: F.transform passes (element, index) to
        # two-arg lambdas, which would silently replace a captured seed
        return F.array_min(
            F.transform(shingles, lambda s: h60(F.concat(F.lit(prefix), s)))
        )

    return F.array(*[seeded_min(i) for i in range(num_hashes)])


def shingle_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", ngram: int = 3
) -> DataFrame:
    """Documents -> distinct word-ngram shingle arrays (empty docs kept).

    The token array is HOISTED into its own projection before the n-gram
    transform references it (from ``size`` and from every lambda
    position): handed the raw ``tokenize(text)`` expression,
    CollapseProject inlines it per reference and the regexp tokenizer
    re-runs several times per row — the dominant term of the old 54 s
    shingle stage on the x10 scale corpus (now ~1 s). Multi-use
    projection boundaries are load-bearing here; don't collapse them.
    """
    toks = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    )
    return toks.select(
        F.col(id_col), word_ngrams(F.col("_toks"), ngram).alias("shingles")
    )


def band_entries(
    signatures: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
    sig_col: str = "signature",
) -> DataFrame:
    """Signature rows -> exploded (id, band_id, band_hash) bucket entries —
    the join key of banded LSH and the on-disk unit of the incremental
    index."""
    rows_per_band = num_hashes // bands
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(sig_col)[b * rows_per_band + r].cast(
                                        "string"
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become a candidate
    pair. One explode + one self-equi-join on (band_id, band_hash) — the
    join co-locates buckets, so cost scales with bucket sizes, not n^2.

    ``max_bucket`` drops buckets LARGER than the cap. Band buckets are
    content-bound, so under constant duplicate density most stay
    constant-size as the corpus grows — but boilerplate and template
    clusters (many near-identical short docs sharing one shingle set)
    grow linearly with the corpus and their O(bucket^2) pair term is the
    one quadratic that survives banding (measured on the x100 probe: max
    bucket 26 -> 180 -> 1510 at x1/x10/x100, in-bucket pair work
    21k -> 345k -> 20M).

    The cap is a BOUNDED-RECALL heuristic, not a lossless re-routing: a
    bucket keys on ONE band (2 of 8 minhash rows at the registered
    params), so an oversized bucket's members need not be
    near-identical, and a genuine near-dup
    pair (Jaccard >= threshold, NOT byte-identical) inside one is
    silently dropped unless it also co-occurs in a <=cap bucket of
    another band — exact_dedup's sha256 pass recovers only the
    byte-identical subset (recall hole pinned in tests/test_dedup_cap.py
    with a planted near-identical-non-exact mega-cluster). On the x100
    probe corpus the 209 dropped pairs (0.04%) all sat inside
    byte-identical mega-buckets, but that is a property of that corpus,
    not of the cap. Production posture: size the cap well above the
    content-bound bucket envelope (512 vs max 26 at sf0.1) so it binds
    only on template clusters, and feed :func:`lsh_oversized_buckets`
    (same aggregation shape) to a downstream exact/sampled pass so the
    loss is observable and recoverable. The oracle reproduces the cap
    exactly (HAVING count <= cap over identical hashes).

    Physical shape: with a cap, pairs come from ONE aggregation —
    collect the bucket's ids, filter on array size, explode the
    in-array pair combinations — instead of the bucket self-join
    (measured 2.7x faster at x1 and 1.9x faster than even the UNCAPPED
    join at x10: one shuffle, no join, and the per-row pair fan-out is
    bounded by the cap). Without a cap the self-join shape is kept: a
    degenerate bucket's O(b^2) pairs then spread across join tasks
    instead of materializing inside a single collected row.
    """
    entries = band_entries(signatures, num_hashes, bands, id_col, sig_col)
    if max_bucket is not None:
        buckets = (
            entries.groupBy("band_id", "band_hash")
            .agg(F.collect_list(id_col).alias("_ids"))
            .filter(F.size("_ids") <= F.lit(max_bucket))
        )
        ids = F.array_sort(F.col("_ids"))

        # let-bind the sorted array (see text.word_ngrams): the lambda
        # bodies below reference it per element
        def pairs_of(a):
            return F.flatten(
                F.transform(
                    a,
                    lambda x, i: F.transform(
                        F.slice(
                            a,
                            i + F.lit(2),
                            F.greatest(F.size(a) - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )

        pairs = F.element_at(F.transform(F.array(ids), pairs_of), 1)
        return (
            buckets.select(F.explode(pairs).alias("_p"))
            .select("_p.id_a", "_p.id_b")
            .distinct()
        )

    left = entries.alias("l")
    right = entries.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_oversized_buckets(
    signatures: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    max_bucket: int = 512,
) -> DataFrame:
    """(band_id, band_hash, bucket_size) for every band bucket the
    ``max_bucket`` cap in :func:`lsh_candidate_pairs` would DROP — the
    observability half of the cap's bounded-recall contract: capped
    recall loss stays measurable (count the rows) and recoverable (join
    the ids back through band_entries and hand the cluster to a
    downstream exact or sampled-verify pass). Same single-aggregation
    shape as the capped candidate path, opposite filter."""
    entries = band_entries(signatures, num_hashes, bands, id_col, sig_col)
    return (
        entries.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > F.lit(max_bucket))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (intersection over union),
    computed as ints then one deterministic double division."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


def jaccard_distinct(a: Column, b: Column) -> Column:
    """:func:`jaccard` for inputs KNOWN to be duplicate-free, NON-NULL
    arrays (all shingle columns — word_ngrams applies array_distinct and
    returns [] for short docs): |a ∪ b| is then |a| + |b| - |a ∩ b| by
    inclusion-exclusion, so the union's second per-pair hash-set build is
    replaced by integer arithmetic (one set op per pair instead of two).
    Same ints, same single double division —
    bit-identical to :func:`jaccard` on distinct inputs (pinned in
    tests/test_extensions.py); NOT equivalent on inputs with
    duplicates, where array_union dedups but size(a) + size(b) does not,
    NULL caveat: under this engine's Spark-4/ANSI semantics
    size(NULL) is NULL, so a NULL side propagates to a NULL "union", the
    ``union > 0`` guard falls through, and both forms return 0.0 —
    parity pinned in tests/test_extensions.py. Under LEGACY
    sizeOfNull (= -1, pre-3.0 default) the forms WOULD diverge (negative
    ratios); don't export this helper into a session running that conf.
    Every current call site receives word_ngrams output through a
    non-null prefilter either way."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band-join ->
    exact-Jaccard verify. Output: (id_a, id_b, jaccard) pairs >= threshold
    among LSH candidates.

    bands=4 of 2 rows at k=8 gives the classic s-curve with ~50% candidate
    recall at J=0.5 and >95% at J=0.8; raise num_hashes/bands for recall,
    verification keeps precision exact.

    The shingled frame is read three times (signatures + both verify
    sides), so it is materialized once with an eager ``localCheckpoint``
    (measured 2x end-to-end against recompute); unlike a persist it
    leaves no CacheManager entry for the caller to release.

    ``max_bucket`` caps band-bucket size before the candidate self-join —
    the lever that keeps boilerplate clusters from turning quadratic at
    corpus scale; see :func:`lsh_candidate_pairs` for the measured
    blowup and the bounded-recall semantics (dropped pairs are
    observable via :func:`lsh_oversized_buckets`, and only their
    byte-identical subset is recovered by exact_dedup).
    """
    # Tokenize/shingle is the pipeline's CPU hot spot; give it the full
    # cluster width when the scan came in narrow (rationale + probe
    # caveats in the shared helper).
    from .layout import spread_if_narrow

    df = spread_if_narrow(df)
    # Empty-shingle docs (fewer than ngram tokens) would all hash to the
    # SAME band bucket (array_min of [] is null; concat_ws skips nulls ->
    # md5('')), forming one quadratic candidate bucket of short docs that
    # Jaccard-0 verification then discards. Filter them before banding:
    # same output, no degenerate bucket at scale (mirrors the oracle's sh2
    # CTE in plans/extensions.py). The predicate is the TOKEN count, not
    # size(shingles) — equivalent by construction (word_ngrams is empty
    # iff tokens < ngram), and a size(shingles)>0 filter pushed through
    # the projection re-evaluated the whole shingle expression in an
    # interpreted (non-codegen) Filter: measured 54 s vs 5 s for the
    # identical stage on the x10 scale corpus. (Moving the
    # filter AFTER the materialization to drop the prefilter's second
    # tokenize measured 1.517 s vs 1.527 s end-to-end at sf0.1 — codegen
    # already de-duplicates the two tokenize evaluations within the fill
    # stage, so this shape is kept.)
    shingled = shingle_docs(
        df.filter(F.size(tokenize(F.col(text_col))) >= F.lit(ngram)),
        text_col,
        id_col,
        ngram,
    ).localCheckpoint()
    signed = shingled.select(
        id_col, minhash_signature(F.col("shingles"), num_hashes).alias("signature")
    )
    pairs = lsh_candidate_pairs(
        signed, num_hashes, bands, id_col, max_bucket=max_bucket
    )
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard_distinct(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # h60 yields 60 meaningful bits


def simhash_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document: per-token h60, per-bit +/-1 votes, bit j
    set iff the vote is positive. Output: (id, simhash, prefix8).

    Shaped as explode + one hash aggregation (60 conditional integer sums)
    rather than 60 array folds per row — linear work, map-side combined, and
    the whole signature is integer arithmetic so any engine reproduces it
    exactly. ``prefix8`` (top 8 bits) is the cheap blocking key: near-dups
    usually agree on it, and grouping by it bounds pairwise comparison.

    Documents with no tokens get simhash 0.
    """
    tokens = df.select(
        F.col(id_col), F.explode_outer(tokenize(F.col(text_col))).alias("token")
    )
    hashed = tokens.select(id_col, h60(F.col("token")).alias("h"))
    # SQL-string expressions, one py4j call each, instead of 60 x ~8-call
    # Column builders: the per-Column construction dominated this
    # operator's driver-side build time (~1.3 s -> ~0.2 s at any SF)
    votes = [
        F.expr(
            f"sum(CASE WHEN h IS NULL THEN 0 "
            f"WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS v{j}"
        )
        for j in range(SIMHASH_BITS)
    ]
    voted = hashed.groupBy(id_col).agg(*votes)
    sig_sql = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    sig = F.expr(f"CAST({sig_sql} AS BIGINT)")
    return voted.select(
        F.col(id_col),
        sig.alias("simhash"),
        F.shiftright(sig, SIMHASH_BITS - 8).alias("prefix8"),
    )


# ---------------------------------------------------------------------------
# Exact blocked n-gram Jaccard (the verification-only baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    ngram: int = 3,
    threshold: float = 0.2,
    extra_block_cols: tuple[str, ...] = (),
    length_bucket_width: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard within bounded composite blocks.

    The in-block self-join is O(block_size^2), so the block key must stay
    bounded as the corpus grows: compose the primary block (lang) with
    ``extra_block_cols`` (e.g. source shard) and a token-count bucket
    (``floor(n_tokens / length_bucket_width)`` — near-dups have near-equal
    length, so same-bucket is where the signal lives). A single unbounded
    column (a language) is NOT a valid block at 100 TB; for unblocked
    recall use the MinHash-LSH path above and keep this as the verifier.

    Scale boundary (measured: x10/x1 wall 10.4 on the scale probe, the
    edge of linear): every component of the composite key has FIXED
    cardinality, so block size — and with it the quadratic pair term —
    grows linearly with the corpus. Unlike the RP-LSH families, exact
    Jaccard admits no adaptive sub-bucket that preserves recall (a hash
    of any token subset splits true pairs; narrowing the length bucket
    sheds boundary pairs — at threshold 0.05 a qualifying pair's token
    counts may differ 20x). That irreducibility is the reason MinHash
    exists: at production scale generate candidates with
    lsh_candidate_pairs (banded buckets whose COUNT grows with content)
    and run this exact check per candidate pair, keeping the blocked
    all-pairs form for corpora whose per-block volume is known-bounded.
    """
    # tokenize/shingle is per-row CPU; a one-file scan runs it on one core
    # (same guard as minhash_near_dups — measured 12.1 s -> ~2 s at sf0.1)
    from .layout import spread_if_narrow

    df = spread_if_narrow(df)
    # one hoisted tokenize serves both the length-bucket block part and
    # the shingle transform (the un-hoisted form ran the regexp once per
    # consumer; see shingle_docs)
    toks = df.select(
        F.col(id_col),
        *[F.col(block_col)],
        *[F.col(c) for c in extra_block_cols],
        tokenize(F.col(text_col)).alias("_toks"),
    )
    parts = [F.col(block_col).cast("string")]
    parts += [F.col(c).cast("string") for c in extra_block_cols]
    if length_bucket_width:
        parts.append(
            F.floor(F.size("_toks") / F.lit(length_bucket_width)).cast(
                "string"
            )
        )
    shingled = toks.select(
        F.col(id_col),
        F.concat_ws("|", *parts).alias("block"),
        word_ngrams(F.col("_toks"), ngram).alias("shingles"),
    )
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("block"), F.col("shingles").alias("sh_a")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"),
        F.col("block").alias("block_b"),
        F.col("shingles").alias("sh_b"),
    )
    return (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("jaccard", jaccard_distinct(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (brute force within blocks)
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine over two float arrays, computed in double with sequential
    left-folds (deterministic, oracle-reproducible order)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )
    # zero-norm guard: under ANSI mode (Spark 4 default) 0/0 raises instead
    # of yielding NaN; a zero vector has no direction -> null similarity
    return F.when((na * nb) > 0, dot / (na * nb))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.9,
    lsh_planes: int = 0,
    lsh_dim: int = 64,
    target_block: int = 0,
) -> DataFrame:
    """Pairs of vectors with cosine >= threshold, blocked to bound the join.

    With ``lsh_planes > 0`` the block key is composed with the vector's
    random-hyperplane LSH bucket (similarity.rp_lsh_signature): candidates
    must agree on every sign bit, so each label block splits into up to
    2^planes buckets and the exact cosine runs only within a bucket — the
    candidate-generation/verification split the scale path needs (a bare
    label column alone is NOT a bounded block at 100 TB; scaled copies of a
    vector keep its direction, hence its bucket, so true near-dups are never
    split). More planes => smaller buckets at the usual recall cost near the
    decision boundary.

    ``target_block`` > 0 makes the bucketing ADAPTIVE (same scheme as
    semantic_dedup_census): ``lsh_planes`` becomes the plane budget and
    the bucket keeps only the low p signature bits, p = smallest integer
    with  N <= n_base_blocks * target_block * 2**p  (n_base_blocks =
    count(DISTINCT block_col), or 1 without one). A fixed plane count
    holds block COUNT constant while block SIZE grows with the corpus, so
    candidate pairs grow as N^2; the adaptive mask holds expected block
    SIZE constant instead, making pair work linear in N. Both the corpus
    count and the base-block count ride in on one broadcast 1-row
    aggregate, and the ladder is exact integer arithmetic an ANSI oracle
    reproduces bit-for-bit.

    Output ids only — the membership test is robust to last-ulp cosine
    differences across engines; the scores live in the rows-only variants.
    """
    # the RP-LSH signature + pairwise cosine folds are per-row/per-pair
    # CPU; don't let a one-file embedding scan serialize them
    from .layout import spread_if_narrow

    df = spread_if_narrow(df)
    cols = [F.col(id_col), F.col(vec_col)]
    block_parts = []
    if block_col:
        block_parts.append(F.col(block_col).cast("string"))
    if lsh_planes > 0:
        from .similarity import rp_lsh_signature

        if target_block > 0:
            from .similarity import (
                adaptive_bucket_modulus,
                rp_lsh_bucket_guarded,
            )

            agg_exprs = [F.count(F.lit(1)).alias("_corpus_n")]
            if block_col:
                agg_exprs.append(
                    F.countDistinct(block_col).alias("_base_blocks")
                )
            cnt = df.agg(*agg_exprs)
            if not block_col:
                cnt = cnt.withColumn("_base_blocks", F.lit(1))
            # cap grows with the observed base-block cardinality so a
            # finer block_col relaxes the mask; the guarded signature
            # only evaluates the plane folds the modulus admits
            df = df.crossJoin(F.broadcast(cnt))
            sig_col = rp_lsh_bucket_guarded(
                F.col(vec_col),
                lsh_planes,
                lsh_dim,
                adaptive_bucket_modulus(
                    F.col("_corpus_n"),
                    F.col("_base_blocks") * F.lit(target_block),
                    lsh_planes,
                ),
            )
        else:
            sig_col = rp_lsh_signature(F.col(vec_col), lsh_planes, lsh_dim)
        block_parts.append(sig_col.cast("string"))
    if block_parts:
        cols.append(F.concat_ws("|", *block_parts).alias("block"))
        block_col = "block"  # downstream joins on the composite
    # per-row inverse norm, computed once before the pair join: the
    # in-pair check is then a single dot fold, not three (the oracle
    # mirrors the exact arithmetic (dot * inv_a) * inv_b; NULL for a
    # zero vector, which the >= filter then drops on both engines)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    self_dot = F.aggregate(
        F.transform(vd, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )
    cols.append(
        F.when(self_dot > 0, F.lit(1.0) / F.sqrt(self_dot)).alias("inv_n")
    )
    base = df.select(*cols)
    if block_col:
        # Pin the verify-join's width: its cost is the per-pair cosine
        # fold, not shuffle bytes, and AQE's byte-based coalescing would
        # squeeze it onto 1-2 cores. A user repartition on the join key is
        # AQE-exempt and satisfies both join children's distribution.
        n = df.sparkSession.sparkContext.defaultParallelism
        base = base.repartition(n, "block")
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        F.col("inv_n").alias("inv_a"),
        *([F.col("block")] if block_col else []),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col("inv_n").alias("inv_b"),
        *([F.col("block").alias("block_b")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("block") == F.col("block_b"))
    dot_ab = F.aggregate(
        F.zip_with(
            F.transform(F.col("v_a"), lambda x: x.cast("double")),
            F.transform(F.col("v_b"), lambda x: x.cast("double")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, cond)
        .filter((dot_ab * F.col("inv_a")) * F.col("inv_b") >= F.lit(threshold))
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster-then-prune census
# ---------------------------------------------------------------------------


def semantic_dedup_census(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    sub_planes: int = 0,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_block: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic dedup census (Abbas et al. 2023,
    arXiv:2303.09540): coarse-quantize every embedding to its nearest
    centroid cell, and inside each cell drop any vector whose cosine to a
    LOWER-id cell-mate reaches ``threshold`` — the surviving lowest id is
    the deterministic cluster representative. Returns the per-cell census
    (n_vectors / n_dropped / n_kept / dup_frac), the number a curation
    pipeline acts on when deciding how hard to prune a corpus.

    Cells are assigned by ARGMAX COSINE to the fixed centroids (spherical
    k-means assignment, similarity.ivf_cell_cosine), not argmin L2: the
    operator's duplicate predicate is angular, so its coarse quantizer
    must be scale-invariant too — an L2 assignment splits a vector and
    its scaled copy across cells near cell boundaries and silently loses
    exactly the pairs the operator exists to find.

    Plan shape — deliberately NOT a self-join: members are collected per
    (cell, sub-bucket) block and the pairwise exists-check runs as array
    higher-order functions inside the block row, so the whole operator is
    two shuffles (block agg, cell re-agg) instead of the four-plus of the
    join + distinct + two-agg formulation. Blocks are bounded by
    construction: SemDeDup sizes n_cells ~ N / target_cluster_size (the
    paper uses ~100k clusters), and ``sub_planes`` RP-LSH sign bits split
    cells further at scale — a sign hyperplane can never separate
    same-direction near-dups, so sub-blocking costs recall only at the
    decision boundary, exactly like embedding_near_dups' bucketing.

    ``target_block`` > 0 makes the sub-blocking ADAPTIVE: ``sub_planes``
    becomes the plane budget (the full signature is computed once per
    row) and the bucket keeps only its low ``p`` bits, where ``p`` is the
    smallest integer with  N <= len(centroids) * target_block * 2**p  —
    i.e. the expected block size stays <= ``target_block`` as the corpus
    grows, so the O(block^2) in-block pair work scales LINEARLY with N
    instead of quadratically (a fixed plane count holds the block COUNT
    constant while block SIZE grows with the corpus — at 10x data that is
    100x pair work, measured 15.6x wall on the x10 scale probe). N rides
    in on a broadcast one-row count, and the p ladder is exact integer
    CASE arithmetic so an ANSI oracle can reproduce the bucket bit-for-bit
    (no log2 / libm). Masking low bits means a corpus that stays small
    keeps p = 0 (one bucket per cell: full recall inside the cell) and a
    growing corpus sheds borderline pairs only as it must.
    """
    from .layout import spread_if_narrow
    from .similarity import (
        adaptive_bucket_modulus,
        ivf_cell_cosine,
        rp_lsh_bucket_guarded,
        rp_lsh_signature,
    )

    # the per-row cell assignment is |centroids| 64-dim folds: CPU-bound
    # map work that a one-file scan would serialize
    df = spread_if_narrow(df)
    if target_block > 0 and sub_planes > 0:
        # adaptive: the corpus count rides in on a broadcast 1-row
        # aggregate, the ladder turns it into a power-of-two modulus,
        # and the guarded signature only EVALUATES the plane folds the
        # modulus admits — unused budget planes cost nothing per-row
        cnt = df.agg(F.count(F.lit(1)).alias("_corpus_n"))
        df = df.crossJoin(F.broadcast(cnt))
        mod_expr = adaptive_bucket_modulus(
            F.col("_corpus_n"), len(centroids) * target_block, sub_planes
        )
        bucket = rp_lsh_bucket_guarded(
            F.col(vec_col), sub_planes, dim, mod_expr
        )
    elif sub_planes > 0:
        bucket = rp_lsh_signature(F.col(vec_col), sub_planes, dim)
    else:
        bucket = F.lit(0)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    # per-member inverse norm, computed ONCE before the collect (the pair
    # check inside a block is O(b^2); recomputing both norms per pair
    # would triple its fold work). Null for a zero vector: it has no
    # direction, so it neither dominates nor is dominated — the null
    # propagates through the pair product and the >= comparison.
    self_dot = dot(v, v)
    inv_n = F.when(self_dot > 0, F.lit(1.0) / F.sqrt(self_dot))
    base = df.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        inv_n.alias("_n"),
        ivf_cell_cosine(F.col(vec_col), centroids).alias("cell"),
        bucket.alias("bucket"),
    )
    blocks = base.groupBy("cell", "bucket").agg(
        F.collect_list(
            F.struct(F.col("_id"), F.col("_v"), F.col("_n"))
        ).alias("members")
    )
    # The O(b^2) in-block exists-check below is per-BLOCK CPU, invisible
    # to AQE's byte-based coalescing (which would pack every block onto
    # one core). A user repartition is AQE-exempt and spreads blocks
    # across the cluster; block count is bounded (cells x 2^sub_planes).
    blocks = blocks.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    dominated = F.size(
        F.filter(
            F.col("members"),
            lambda m: F.exists(
                F.col("members"),
                lambda o: (o["_id"] < m["_id"])
                & (
                    dot(m["_v"], o["_v"]) * m["_n"] * o["_n"]
                    >= F.lit(threshold)
                ),
            ),
        )
    )
    per_block = blocks.select(
        "cell",
        F.size("members").alias("nv"),
        dominated.alias("nd"),
    )
    return (
        per_block.groupBy("cell")
        .agg(
            F.sum("nv").alias("n_vectors"),
            F.sum("nd").alias("n_dropped"),
        )
        .select(
            "cell",
            "n_vectors",
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
            (
                F.col("n_dropped").cast("double")
                / F.col("n_vectors").cast("double")
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Span-level exact-substring dedup (Lee et al. 2022, arXiv:2107.06499)
# ---------------------------------------------------------------------------


def sampled_spans(
    text_col: Column | str,
    window: int = 8,
    anchor: int = 3,
    mod: int = 2,
) -> Column:
    """Content-anchored sampled span strings: the Spark-first primitive
    for SPAN-level exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    public knowledge). Doc-level detectors (exact hash, bag-of-words,
    prefix containment, MinHash) all treat the document as the unit, so a
    verbatim chunk duplicated INSIDE otherwise-distinct documents
    (license headers, boilerplate, quoted passages) escapes every one of
    them; this primitive fingerprints fixed-length token windows instead.

    The paper builds a corpus-wide suffix array — inherently sequential
    and RAM-bound. The distributed re-expression is mod-p ANCHOR
    sampling (Manber 1994 sif / Broder "0 mod p" fingerprint selection):
    a window STARTS at token position i iff
    ``h60('sp:' || anchor-gram at i) % mod == 0``, i.e. the sampling
    decision depends only on the local content, never on the position —
    so a verbatim span long enough to contain a sampled anchor yields
    byte-identical windows in every document that contains it,
    regardless of alignment or surrounding text. A fixed-stride scheme
    has no such guarantee (the two copies' strides need not line up),
    and a rolling-hash state fold cannot run inside codegen.

    Detection probability for a duplicated run of L tokens is
    ``1 - (1 - 1/mod)^(L - window + 1)`` (each of its full-window
    anchors samples independently-by-content at rate 1/mod) — the same
    bounded-miss posture as the LSH band cap, and tunable: mod=1 is
    exhaustive stride-1 fingerprinting; 100 TB posture raises window
    (~50 tokens per the paper) and mod together so emitted volume stays
    ~tokens/mod while the guarantee covers spans >= window + a few mods.

    Returns ``array<string>`` of the sampled window strings
    (space-joined tokens, duplicates kept — the same span occurring
    twice in one document is two entries, which is what a
    self-repetition census needs). Short docs (< window tokens) return
    the empty array. Tokens are let-bound (see text.word_ngrams): the
    tokenize regexp runs once per row, each gram is flat element_at
    concat, and everything stays inside whole-stage codegen — no UDF,
    no shuffle. The DuckDB twin (_spans_sql in plans/extensions.py)
    reproduces every hash bit-for-bit.
    """
    if not (0 < anchor <= window):
        raise ValueError(f"anchor must be in 1..window, got {anchor}/{window}")
    if mod < 1:
        raise ValueError(f"mod must be >= 1, got {mod}")
    toks = tokenize(text_col)

    def build(ts: Column) -> Column:
        count = F.size(ts) - (window - 1)

        def gram(i: Column, n: int) -> Column:
            parts: list[Column] = []
            for j in range(n):
                if j:
                    parts.append(F.lit(" "))
                parts.append(F.element_at(ts, i + F.lit(j)))
            return F.concat(*parts)

        sampled = F.filter(
            F.sequence(F.lit(1), count),
            lambda i: F.pmod(
                h60(F.concat(F.lit("sp:"), gram(i, anchor))), F.lit(mod)
            )
            == 0,
        )
        return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(sampled, lambda i: gram(i, window))
        )

    return F.element_at(F.transform(F.array(toks), build), 1)


def token_lines(text_col: Column | str, width: int = 12) -> Column:
    """Fixed-width token "lines": the structural unit for LINE-level
    dedup (CCNet, Wenzek et al. 2020, arXiv:1911.00359; RefinedWeb,
    Penedo et al. 2023, arXiv:2306.01116 — public knowledge), the cheap
    boilerplate detector real pipelines run BEFORE MinHash. Web corpora
    split on newlines; the test corpus is a flat word stream, so the
    deterministic stand-in decomposes a document into consecutive
    ``width``-token chunks (space-joined, last chunk ragged) — the
    census/report queries plant literal boilerplate lines on top, which
    is where the cross-document signal lives either way.

    Returns ``array<string>``; the empty document returns the empty
    array. Tokens are let-bound (one tokenize per row) and the whole
    expression is flat sequence/transform/slice — inside whole-stage
    codegen, no UDF, no shuffle. The DuckDB twin (_lines_sql in
    plans/extensions.py) is bit-identical. Unlike sampled_spans there is
    no sampling decision: line dedup is exhaustive over its units (the
    unit count is ~tokens/width, already linear), so recall over planted
    whole-line boilerplate is 1.0 by construction — the complementary
    posture to the span detector's mod-p bounded miss.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    toks = tokenize(text_col)

    def build(ts: Column) -> Column:
        n = F.ceil(F.size(ts) / F.lit(width)).cast("int")
        return F.when(
            F.size(ts) <= 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.array_join(
                    F.slice(ts, (i - F.lit(1)) * width + F.lit(1), width), " "
                ),
            )
        )

    return F.element_at(F.transform(F.array(toks), build), 1)
