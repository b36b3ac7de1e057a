"""Data-selection & embedding-geometry queries (LLM-pipeline extensions).

Operators a 100 TB pretraining pipeline runs between dedup and packing,
all oracle-checked bit-for-bit:

- ``dsir_importance_weights`` — hashed n-gram importance resampling
  (DSIR, Xie et al. 2023, arXiv:2302.03169): score every document by how
  much more likely its hashed uni+bigram bag is under the target domain's
  feature distribution than under the raw corpus distribution.
- ``token_entropy_census`` — per-document Shannon entropy of the token
  histogram, the classic low-entropy/template-text quality filter.
- ``jl_projection_distortion`` — Johnson-Lindenstrauss sign-projection
  (64-d -> 16-d) with per-pair squared-distance distortion, the
  dimensionality-reduction sanity check run before ANN index builds.
- ``source_pmi_keywords`` — top tokens per source by pointwise mutual
  information, the source-characterization / domain-tagging probe.
- ``source_token_kl`` — KL(source || corpus) over hashed token buckets,
  the distribution-level domain-shift score behind mixture weighting.
- ``basket_lift_pairs`` — frequently-bought-together part pairs by
  exact log2 lift (association rules; bounded per-order pair fan-out).

Logarithms use :mod:`..functions.fplog2` (exact fixed-point log2 in
1/256-bit units): runtime libm logs diverge between the JVM and DuckDB by
1 ulp on ~1% of inputs, so both likelihood ratios and entropies are
computed in EXACT int64 fixed point and only converted to doubles by
correctly-rounded (hence deterministic) final divisions. The JL distances
reuse the left-fold dot-product licensing proven by the cosine family
(bit-identical to DuckDB's list_dot_product).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.fplog2 import fp_log2, fp_log2_sql
from ..operators import text as X
from ..operators.layout import spread_if_narrow
from ..operators.similarity import _dot_const, _dot_self, _h60_py
from ..operators.text import h60_sql
from ..sources.catalog import load_table
from .extensions import _TOKENS_SQL
from .registry import QuerySpec, register

# ---------------------------------------------------------------------------
# DSIR importance weights: hashed uni+bigram likelihood ratio, target = en
# ---------------------------------------------------------------------------

#: Hashed feature buckets. 64 keeps the bucket-stats relation broadcastable
#: and the add-one smoothing meaningful at every driver SF; production DSIR
#: uses 10k+ buckets — the plan shape (one gram shuffle, one 64-row
#: broadcast) is unchanged by B.
_DSIR_BUCKETS = 64

#: Target-domain predicate: English documents. Any deterministic column
#: predicate slots in here (the paper targets Wikipedia-like text).
_DSIR_TARGET_LANG = "en"


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight in exact 1/256-bit units.

    w(x) = sum_b n_b(x) * s_b with
    s_b = [L(t_b+1) - L(T+B)] - [L(r_b+1) - L(R+B)],  L = fp_log2,
    t_b/r_b = target/raw corpus counts of hashed bucket b, add-one
    smoothed. ``selected`` marks docs whose bag is more target-like than
    raw (w > 0) — the resampling acceptance core of the paper, made
    deterministic.

    Scale: ONE tokenize+explode pass. The exploded grams collapse
    map-side into the per-(doc, bucket) histogram ``dbc`` (<= B rows per
    doc — bounded regardless of document length), which is materialized
    once (localCheckpoint) and feeds both branches: the B-row global
    bucket stats and the per-doc weight fold. Recomputing the gram
    explode per branch costs two full regex-tokenization passes over
    the corpus; materializing the bounded histogram instead costs
    ~B rows/doc of executor storage (64 x n_docs — at 1B docs and B=64,
    ~30 bytes/row spread over the cluster) and halves the dominant map
    work (measured 2.81 s -> ~1.7 s at sf0.1). w_fp = sum(cnt * s_b) is
    the same exact integer arithmetic as the per-gram sum. Docs with
    zero tokens carry no evidence and are absent (documented, matches
    the explode semantics).

    int64 bound: |s_b| < 512*log2(R+B) <= 512*63 ~ 2^15 (two fp_log2
    differences), so |w_fp| <= n_grams(doc) * 2^15 — overflow needs a
    single document of ~2.8e14 grams; corpus-scale counts only ever
    appear INSIDE fp_log2 arguments, never as factors.

    The bigram builder is ``zip_with`` over two
    shifted slices of a HOISTED token projection, replacing
    ``transform(sequence(1, n-1), i -> concat_ws(element_at, element_at))``
    over the raw ``tokenize(text)`` expression. Two stacked effects, both
    byte-identical in output: the old lambda body referenced the
    un-hoisted token expression, so CollapseProject inlined the regexp
    tokenizer into the per-ELEMENT loop (the higher-order-function
    trap, word_ngrams' sibling), and per-position ``element_at`` pairs
    cost more than one linear ``zip_with`` pass. Measured on the dbc
    histogram stage at sf0.1: 1.71 s -> 0.84 s; query end-to-end
    1.82 s -> 1.07 s (plan build 1.44 s -> 0.77 s, execution
    0.31 s both ways; 12 exchanges before and after).
    """
    b_ = _DSIR_BUCKETS
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("text").isNotNull())
    toked = docs.select(
        "doc_id", "lang", X.tokenize(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    eb = toked.select(
        "doc_id", "lang", F.explode(F.concat(toks, bigrams)).alias("g")
    ).select("doc_id", "lang", (X.h60(F.col("g")) % b_).alias("b"))
    # bounded per-(doc, bucket) histogram, materialized once for both
    # branches (<= B rows per doc; see docstring)
    dbc = (
        eb.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    bs = dbc.groupBy("b").agg(
        # when/otherwise, NOT a bare boolean cast: a NULL lang must count
        # as 0 target evidence (a null-sum bucket would poison the whole
        # score column), matching the oracle's CASE ... ELSE 0
        F.sum(
            F.when(
                F.col("lang") == _DSIR_TARGET_LANG, F.col("cnt")
            ).otherwise(F.lit(0)).cast("long")
        ).alias("t_b"),
        F.sum("cnt").alias("r_b"),
    )
    tot = bs.agg(
        F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot")
    )
    sc0 = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        (F.col("t_b") + 1).cast("long").alias("t1"),
        (F.col("r_b") + 1).cast("long").alias("r1"),
        (F.col("t_tot") + b_).cast("long").alias("tn"),
        (F.col("r_tot") + b_).cast("long").alias("rn"),
    )
    sc = sc0.select(
        "b",
        (
            (fp_log2("t1") - fp_log2("tn")) - (fp_log2("r1") - fp_log2("rn"))
        ).alias("s"),
    )
    return (
        dbc.join(F.broadcast(sc), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("s")).alias("w_fp"),
        )
        .select(
            "doc_id",
            "lang",
            "n_grams",
            "w_fp",
            (F.col("w_fp").cast("double") / F.lit(256.0)).alias("w_bits"),
            (F.col("w_fp") > 0).alias("selected"),
        )
    )


def _dsir_oracle() -> str:
    b_ = _DSIR_BUCKETS
    l_t1 = fp_log2_sql("t1", "duckdb")
    l_r1 = fp_log2_sql("r1", "duckdb")
    l_tn = fp_log2_sql("tn", "duckdb")
    l_rn = fp_log2_sql("rn", "duckdb")
    return f"""
        WITH tk AS (
            SELECT doc_id, lang, {_TOKENS_SQL} AS t
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT doc_id, lang,
                   unnest(list_concat(t,
                       CASE WHEN len(t) >= 2 THEN
                           list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i + 1])
                       ELSE CAST([] AS VARCHAR[]) END)) AS g
            FROM tk
        ),
        eb AS (
            SELECT doc_id, lang, {h60_sql('g')} % {b_} AS b
            FROM grams
        ),
        bs AS (
            SELECT b,
                   CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
                   count(*) AS r_b
            FROM eb GROUP BY b
        ),
        tot AS (
            SELECT CAST(sum(t_b) AS BIGINT) AS t_tot,
                   CAST(sum(r_b) AS BIGINT) AS r_tot
            FROM bs
        ),
        sc0 AS (
            SELECT b, t_b + 1 AS t1, r_b + 1 AS r1,
                   t_tot + {b_} AS tn, r_tot + {b_} AS rn
            FROM bs, tot
        ),
        sc AS (
            SELECT b, ({l_t1} - {l_tn}) - ({l_r1} - {l_rn}) AS s
            FROM sc0
        )
        SELECT eb.doc_id, eb.lang,
               count(*) AS n_grams,
               CAST(sum(sc.s) AS BIGINT) AS w_fp,
               CAST(CAST(sum(sc.s) AS BIGINT) AS DOUBLE) / 256.0
                 AS w_bits,
               CAST(sum(sc.s) AS BIGINT) > 0 AS selected
        FROM eb JOIN sc USING (b)
        GROUP BY eb.doc_id, eb.lang
    """


register(
    QuerySpec(
        name="dsir_importance_weights",
        description="DSIR data selection: hashed uni+bigram likelihood "
        "ratio vs the en target domain, exact fixed-point log2 weights",
        spark=q_dsir_importance,
        oracle=_dsir_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Token-entropy census: exact fixed-point Shannon entropy per document
# ---------------------------------------------------------------------------


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-histogram Shannon entropy.

    H = sum_i (c_i/N) log2(N/c_i) is kept exact as
    h_fp = N*L(N) - sum_i c_i*L(c_i) (int64, 1/256-bit units); the only
    float op is the final correctly-rounded division h_fp/(256*N).
    Low-entropy documents are template/repetition candidates — the cheap
    information-theoretic twin of ``doc_repetition``'s positional check.

    Scale: (doc, token) counts map-side combine before the one
    corpus-sized shuffle; the per-doc rollup reuses the same hash
    partitioning on doc_id.

    int64 bound: h_fp <= N * fp_log2(N) = N * 256*log2(N) per DOCUMENT
    (N = that document's token count, never a corpus total) — overflow
    needs a single ~6e14-token document; s_fp is bounded by the same
    product since sum(c_i * L(c_i)) <= N * L(N).
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("text").isNotNull())
    tc = (
        docs.select(
            "doc_id", F.explode(X.tokenize(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = (
        tc.select("doc_id", "c", fp_log2("c").alias("lc"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(F.col("c") * F.col("lc")).alias("s_fp"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        (F.col("n_tokens") * fp_log2("n_tokens") - F.col("s_fp")).alias(
            "h_fp"
        ),
        (
            (F.col("n_tokens") * fp_log2("n_tokens") - F.col("s_fp")).cast(
                "double"
            )
            / (F.lit(256) * F.col("n_tokens")).cast("double")
        ).alias("entropy_bits"),
    )


def _entropy_oracle() -> str:
    l_c = fp_log2_sql("c", "duckdb")
    l_n = fp_log2_sql("n_tokens", "duckdb")
    return f"""
        WITH tc AS (
            SELECT doc_id, unnest({_TOKENS_SQL}) AS tok
            FROM documents WHERE text IS NOT NULL
        ),
        cnt AS (
            SELECT doc_id, tok, count(*) AS c
            FROM tc GROUP BY doc_id, tok
        ),
        lc AS (SELECT doc_id, c, {l_c} AS lc FROM cnt),
        per AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct_tokens,
                   CAST(sum(c * lc) AS BIGINT) AS s_fp
            FROM lc GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_distinct_tokens,
               n_tokens * {l_n} - s_fp AS h_fp,
               CAST(n_tokens * {l_n} - s_fp AS DOUBLE)
                 / CAST(256 * n_tokens AS DOUBLE) AS entropy_bits
        FROM per
    """


register(
    QuerySpec(
        name="token_entropy_census",
        description="per-document Shannon entropy of the token histogram "
        "(exact fixed-point log2; low entropy = template text)",
        spark=q_token_entropy,
        oracle=_entropy_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection: 64-d -> 16-d distance distortion
# ---------------------------------------------------------------------------

_JL_OUT_DIM = 16
_JL_IN_DIM = 64

#: Deterministic +-1 projection rows from the shared md5/h60 scheme (same
#: derivation family as the RP-LSH hyperplanes and IVF centroids).
_JL_SIGNS: list[list[float]] = [
    [
        1.0 if _h60_py(f"jl:{k}:{j}") % 2 == 0 else -1.0
        for j in range(_JL_IN_DIM)
    ]
    for k in range(_JL_OUT_DIM)
]


def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance distortion of a +-1 JL projection on consecutive-id pairs.

    For each pair z = x - y: sq_dist = <z,z>, sq_dist_proj =
    sum_k <z, s_k>^2, distortion = sq_dist_proj / (OUT_DIM * sq_dist)
    (expectation 1 under the JL lemma). All dot products are the proven
    left-fold form; the 16-term square sum is built left-associated so
    both engines execute identical IEEE ops — distances compare RAW.

    Scale: a co-partitioned self-join on the id (sort-merge on vec_id at
    100 TB, no replication) followed by pure map work; projection rows
    are literals, nothing is broadcast at runtime.
    """
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb")
    )
    pairs = a.join(
        b, F.col("vec_id_a") + 1 == F.col("vec_id_b")
    ).select(
        "vec_id_a",
        "vec_id_b",
        F.zip_with(
            F.col("va"), F.col("vb"), lambda x, y: x - y
        ).alias("diff"),
    )
    d = F.col("diff")
    proj_sq = [
        _dot_const(d, row) * _dot_const(d, row) for row in _JL_SIGNS
    ]
    sq_dist_proj = reduce(lambda acc, t: acc + t, proj_sq)
    out = pairs.select(
        "vec_id_a",
        "vec_id_b",
        _dot_self(d).alias("sq_dist"),
        sq_dist_proj.alias("sq_dist_proj"),
    )
    return out.select(
        "vec_id_a",
        "vec_id_b",
        "sq_dist",
        "sq_dist_proj",
        F.when(
            F.col("sq_dist") > 0,
            F.col("sq_dist_proj")
            / (F.lit(float(_JL_OUT_DIM)) * F.col("sq_dist")),
        ).alias("distortion"),
    )


def _jl_oracle() -> str:
    def row_lit(row: list[float]) -> str:
        return "[" + ",".join(f"{v:.1f}" for v in row) + "]"

    proj_terms = " + ".join(
        f"(list_dot_product(diff, {row_lit(row)}) * "
        f"list_dot_product(diff, {row_lit(row)}))"
        for row in _JL_SIGNS
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        p AS (
            SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                   list_transform(range(1, len(a.v) + 1),
                                  i -> a.v[i] - b.v[i]) AS diff
            FROM e a JOIN e b ON a.vec_id + 1 = b.vec_id
        ),
        m AS (
            SELECT vec_id_a, vec_id_b,
                   list_dot_product(diff, diff) AS sq_dist,
                   ({proj_terms}) AS sq_dist_proj
            FROM p
        )
        SELECT vec_id_a, vec_id_b, sq_dist, sq_dist_proj,
               CASE WHEN sq_dist > 0
                    THEN sq_dist_proj / ({float(_JL_OUT_DIM)} * sq_dist)
               END AS distortion
        FROM m
    """


register(
    QuerySpec(
        name="jl_projection_distortion",
        description="Johnson-Lindenstrauss 64d->16d sign projection: "
        "per-pair squared-distance distortion (expectation 1)",
        spark=q_jl_distortion,
        oracle=_jl_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Source-characteristic vocabulary: top tokens per source by PMI
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 5


def q_source_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per source by pointwise mutual information:
    PMI(t, s) = log2( p(t,s) / (p(t) p(s)) ), the standard
    "what vocabulary characterizes this source" curation probe.

    Computed in the factored fixed-point form
    (L(c_ts) + L(N)) - (L(c_t) + L(n_s)) so every log argument stays
    <= total token count — int64-safe at any corpus size, unlike the
    cross-product form c_ts*N which overflows at ~1e5x today's scale.
    Rare-pair noise is cut by the usual min-count support filter
    (applied AFTER the marginals, which stay corpus-wide); ranking ties
    break on the token string, so top-5 is fully deterministic.

    Scale: one corpus shuffle for (source, token) counts, then two
    window passes (by token, by source) over the compressed count
    relation — the rank window reuses the source partitioning, so no
    further exchange after the marginals.
    """
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("text").isNotNull())
    st = (
        docs.select(
            "source", F.explode(X.tokenize(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = st.agg(F.sum("c").cast("long").alias("n_all"))
    w = st.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok",
        "c",
        F.sum("c").over(Window.partitionBy("tok")).alias("c_t"),
        F.sum("c").over(Window.partitionBy("source")).alias("n_s"),
        "n_all",
    )
    h = w.filter(F.col("c") >= _PMI_MIN_COUNT).select(
        "source",
        "tok",
        "c",
        (
            (fp_log2("c") + fp_log2("n_all"))
            - (fp_log2("c_t") + fp_log2("n_s"))
        ).alias("pmi_fp"),
    )
    r = h.select(
        "source",
        "tok",
        "c",
        "pmi_fp",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("pmi_fp").desc(), F.col("tok").asc()
            )
        )
        .alias("rank"),
    )
    return r.filter(F.col("rank") <= _PMI_TOP_K).select(
        "source",
        "tok",
        F.col("c").alias("c_st"),
        "pmi_fp",
        (F.col("pmi_fp").cast("double") / F.lit(256.0)).alias("pmi_bits"),
        "rank",
    )


def _pmi_oracle() -> str:
    l_c = fp_log2_sql("c", "duckdb")
    l_n = fp_log2_sql("n_all", "duckdb")
    l_ct = fp_log2_sql("c_t", "duckdb")
    l_ns = fp_log2_sql("n_s", "duckdb")
    return f"""
        WITH tk AS (
            SELECT source, unnest({_TOKENS_SQL}) AS tok
            FROM documents WHERE text IS NOT NULL
        ),
        st AS (
            SELECT source, tok, count(*) AS c
            FROM tk GROUP BY source, tok
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM st),
        w AS (
            SELECT source, tok, c,
                   CAST(sum(c) OVER (PARTITION BY tok) AS BIGINT) AS c_t,
                   CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)
                     AS n_s,
                   n_all
            FROM st, tot
        ),
        h AS (
            SELECT source, tok, c,
                   ({l_c} + {l_n}) - ({l_ct} + {l_ns}) AS pmi_fp
            FROM w WHERE c >= {_PMI_MIN_COUNT}
        ),
        r AS (
            SELECT source, tok, c, pmi_fp,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY pmi_fp DESC, tok ASC)
                     AS rank
            FROM h
        )
        SELECT source, tok, c AS c_st, pmi_fp,
               CAST(pmi_fp AS DOUBLE) / 256.0 AS pmi_bits, rank
        FROM r WHERE rank <= {_PMI_TOP_K}
    """


register(
    QuerySpec(
        name="source_pmi_keywords",
        description="top-5 tokens per source by pointwise mutual "
        "information (exact fixed-point log2, deterministic ties)",
        spark=q_source_pmi,
        oracle=_pmi_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Per-source KL divergence: distribution-level domain shift vs the corpus
# ---------------------------------------------------------------------------

_KL_BUCKETS = 64


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source || corpus) over hashed token buckets, per source:
    D = sum_b p_b log2(p_b / q_b) with add-one smoothing — the
    distribution-level companion to source_pmi_keywords (PMI names the
    tokens that characterize a source; KL says HOW FAR the source's whole
    token distribution sits from the corpus mix, the number a domain-
    weighting scheme consumes).

    Exactness: the log-ratio
    (L(s_b+1) - L(n_s+B)) - (L(c_b+1) - L(N+B)) is exact int64
    fixed-point; the mass weights are correctly-rounded double
    cross-products; the 64 per-bucket terms sum in a bucket-ordered fold.
    Same no-overflow-horizon discipline as value_drift_psi.

    Scale: ONE corpus pass — the (source, bucket) counts and all three
    marginals come from a single grouping-sets aggregation whose tiny
    result (sources x B rows) is localCheckpoint'd and re-read by every
    branch (the rollup-plus-checkpoint remedy the triangle census
    established; without it the explode subtree re-shuffles once per
    marginal). Then broadcast joins and a 64-element fold per source.
    """
    b_ = _KL_BUCKETS
    # source IS NOT NULL as well as text: the dense-grid equality join
    # (and the oracle's g.source = s.source) never matches a NULL key, so
    # a NULL-source group would keep its marginal but lose every bucket
    # count — the same NULL-key evidence-loss class as DSIR's lang guard
    docs = spread_if_narrow(
        load_table(spark, "documents", sf_dir)
    ).filter(F.col("text").isNotNull() & F.col("source").isNotNull())
    eb = docs.select(
        "source", F.explode(X.tokenize(F.col("text"))).alias("tok")
    ).select("source", (X.h60(F.col("tok")) % b_).alias("b"))
    gs = (
        eb.groupingSets(
            [["source", "b"], ["source"], ["b"], []], "source", "b"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
        .localCheckpoint()
    )
    sb = gs.filter("gid = 0").select("source", "b", F.col("n").alias("s_raw"))
    sources = gs.filter("gid = 1").select("source", F.col("n").alias("n_s"))
    corpus = gs.filter("gid = 2").select("b", F.col("n").alias("c_raw"))
    tot = gs.filter("gid = 3").select(F.col("n").alias("n_all"))
    # dense (source, bucket) grid so empty buckets carry smoothed mass
    grid = sources.select(
        "source", "n_s", F.explode(F.sequence(F.lit(0), F.lit(b_ - 1))).alias("b")
    )
    full = (
        grid.join(F.broadcast(sb), ["source", "b"], "left")
        .fillna(0, ["s_raw"])
        # LEFT join + fill: the vocabulary can be far smaller than B, so
        # buckets with zero corpus-wide mass still exist in the smoothed
        # domain (q_b = 1/(N+B)) — an inner join would silently drop them
        .join(F.broadcast(corpus), "b", "left")
        .fillna(0, ["c_raw"])
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "b",
            (F.col("s_raw") + 1).cast("long").alias("sb1"),
            (F.col("n_s") + b_).cast("long").alias("nsb"),
            (F.col("c_raw") + 1).cast("long").alias("cb1"),
            (F.col("n_all") + b_).cast("long").alias("nab"),
        )
    )
    lr = (fp_log2("sb1") - fp_log2("nsb")) - (fp_log2("cb1") - fp_log2("nab"))
    terms = full.select(
        "source",
        "nsb",
        "b",
        (
            F.col("sb1").cast("double") * lr.cast("double")
        ).alias("term"),
    )
    arr = terms.groupBy("source", "nsb").agg(
        F.array_sort(F.collect_list(F.struct("b", "term"))).alias("a")
    )
    num = F.aggregate(F.col("a"), F.lit(0.0), lambda acc, s: acc + s["term"])
    return arr.select(
        "source",
        (F.col("nsb") - b_).alias("n_tokens"),
        (num / (F.lit(256.0) * F.col("nsb").cast("double"))).alias(
            "kl_bits"
        ),
    )


def _kl_oracle() -> str:
    b_ = _KL_BUCKETS
    l_sb1 = fp_log2_sql("sb1", "duckdb")
    l_nsb = fp_log2_sql("nsb", "duckdb")
    l_cb1 = fp_log2_sql("cb1", "duckdb")
    l_nab = fp_log2_sql("nab", "duckdb")
    return f"""
        WITH tk AS (
            SELECT source, unnest({_TOKENS_SQL}) AS tok
            FROM documents
            WHERE text IS NOT NULL AND source IS NOT NULL
        ),
        sb AS (
            SELECT source, {h60_sql('tok')} % {b_} AS b,
                   count(*) AS s_raw
            FROM tk GROUP BY source, b
        ),
        sources AS (
            SELECT source, CAST(sum(s_raw) AS BIGINT) AS n_s
            FROM sb GROUP BY source
        ),
        grid AS (
            SELECT source, n_s, unnest(range(0, {b_})) AS b FROM sources
        ),
        corpus AS (
            SELECT b, CAST(sum(s_raw) AS BIGINT) AS c_raw
            FROM sb GROUP BY b
        ),
        tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_all FROM corpus),
        filled AS (
            SELECT g.source, g.b,
                   CAST(COALESCE(s.s_raw, 0) + 1 AS BIGINT) AS sb1,
                   CAST(g.n_s + {b_} AS BIGINT) AS nsb,
                   CAST(COALESCE(c.c_raw, 0) + 1 AS BIGINT) AS cb1,
                   CAST(t.n_all + {b_} AS BIGINT) AS nab
            FROM grid g
            LEFT JOIN sb s ON g.source = s.source AND g.b = s.b
            LEFT JOIN corpus c ON g.b = c.b, tot t
        ),
        terms AS (
            SELECT source, nsb, b,
                   CAST(sb1 AS DOUBLE)
                   * CAST(({l_sb1} - {l_nsb}) - ({l_cb1} - {l_nab})
                          AS DOUBLE) AS term
            FROM filled
        ),
        arr AS (
            SELECT source, nsb, list(term ORDER BY b) AS a
            FROM terms GROUP BY source, nsb
        )
        SELECT source, nsb - {b_} AS n_tokens,
               list_reduce(a, (p, q) -> p + q)
               / (256.0 * CAST(nsb AS DOUBLE)) AS kl_bits
        FROM arr
    """


register(
    QuerySpec(
        name="source_token_kl",
        description="KL(source || corpus) over hashed token buckets "
        "(exact fixed-point log2, bucket-ordered fold) — domain-shift "
        "score per source",
        spark=q_source_kl,
        oracle=_kl_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Market-basket lift: frequently-bought-together with exact log2 lift
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 2
_BASKET_TOP_K = 20


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by basket lift: lift(a,b) =
    P(a,b) / (P(a) P(b)) over orders, reported as exact fixed-point
    log2 — "frequently bought together", the association-rule census.

    Pairs are generated per order from the sorted distinct-part array
    (two nested transforms + flatten), never a row-level self-join: an
    order holds at most a handful of parts, so the pair fan-out is
    bounded per order while a self-join's worst case is quadratic in the
    hottest order. The per-order sets are checkpointed once for the pair
    and marginal branches (persist() instead at cluster scale). Log-lift
    uses the factored fp_log2 form (every argument <= order count), the
    support filter keeps noise pairs out, and top-k is a TakeOrdered
    with full tiebreak (lift, support, pa, pb) — no global sort, no
    window.

    int64 bound: lift_fp is a SUM of four fp_log2 values (never a
    count-by-count product — P(a,b)/(P(a)P(b)) is already factored into
    logs), each < 256*log2(n_orders) <= 256*63, so |lift_fp| < 2^15 at
    any corpus size; no overflow horizon exists for this query.
    """
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        # NULL keys out on BOTH engines: Spark's groupBy would keep a
        # NULL-order group (and count it in n_orders) while the oracle's
        # equality self-join drops it — a silent cross-engine divergence
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
    )
    sets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint()
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.greatest(F.size("ps"), F.lit(1))
                ),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_arrays).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN_SUPPORT)
    )
    marg = (
        sets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    n_orders = sets.agg(F.count(F.lit(1)).alias("n_orders"))
    hoisted = (
        pairs.join(
            F.broadcast(marg.select(F.col("pk").alias("pa"),
                                    F.col("n_part").alias("n_a"))),
            "pa",
        )
        .join(
            F.broadcast(marg.select(F.col("pk").alias("pb"),
                                    F.col("n_part").alias("n_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa", "pb", "n_ab", "n_a", "n_b", "n_orders",
        )
    )
    lift_fp = (fp_log2("n_ab") + fp_log2("n_orders")) - (
        fp_log2("n_a") + fp_log2("n_b")
    )
    return (
        hoisted.select(
            "pa", "pb", "n_ab", "n_a", "n_b", "n_orders",
            lift_fp.alias("lift_fp"),
            (lift_fp.cast("double") / F.lit(256.0)).alias("lift_bits"),
        )
        .orderBy(
            F.desc("lift_fp"), F.desc("n_ab"), F.asc("pa"), F.asc("pb")
        )
        .limit(_BASKET_TOP_K)
    )


def _basket_oracle() -> str:
    l_ab = fp_log2_sql("n_ab", "duckdb")
    l_n = fp_log2_sql("n_orders", "duckdb")
    l_a = fp_log2_sql("n_a", "duckdb")
    l_b = fp_log2_sql("n_b", "duckdb")
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        ),
        pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                   count(*) AS n_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY pa, pb
            HAVING count(*) >= {_BASKET_MIN_SUPPORT}
        ),
        marg AS (
            SELECT l_partkey AS pk, count(*) AS n_part
            FROM items GROUP BY l_partkey
        ),
        tot AS (
            SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
        ),
        hoisted AS (
            SELECT p.pa, p.pb, p.n_ab,
                   ma.n_part AS n_a, mb.n_part AS n_b, t.n_orders
            FROM pairs p
            JOIN marg ma ON p.pa = ma.pk
            JOIN marg mb ON p.pb = mb.pk, tot t
        )
        SELECT pa, pb, n_ab, n_a, n_b, n_orders,
               ({l_ab} + {l_n}) - ({l_a} + {l_b}) AS lift_fp,
               CAST(({l_ab} + {l_n}) - ({l_a} + {l_b}) AS DOUBLE) / 256.0
                 AS lift_bits
        FROM hoisted
        ORDER BY lift_fp DESC, n_ab DESC, pa ASC, pb ASC
        LIMIT {_BASKET_TOP_K}
    """


register(
    QuerySpec(
        name="basket_lift_pairs",
        description="top-20 frequently-bought-together part pairs by "
        "exact fixed-point log2 lift (bounded per-order pair fan-out)",
        spark=q_basket_lift,
        oracle=_basket_oracle(),
    )
)


# ---------------------------------------------------------------------------
# UniMax source allocation: epoch-capped waterfill over per-source mass
# ---------------------------------------------------------------------------

#: Max epochs any source may repeat (UniMax N; Chung et al. 2023,
#: arXiv:2304.09151). 2 keeps the saturation branch binding at every
#: driver SF (the sf0.001..0.1 source masses are near-uniform at 4-6%).
_UNIMAX_EPOCH_CAP = 2

#: Character budget as a fraction of total corpus mass (9/5 of total =
#: 90% of the epoch-capped mass). A FRACTION, not an absolute count, so
#: the query is scale-free (a fixed count degenerates as SF grows);
#: sized so the smallest sources saturate and the largest stay at the
#: waterfill level at the driver-gate SFs (3 saturate at sf0.001, 2 at sf0.01; sf0.1's
#: masses are too uniform to saturate — the saturated branch there is
#: pinned by tests/test_selection.py on a planted skewed corpus).
_UNIMAX_BUDGET_NUM = 9
_UNIMAX_BUDGET_DEN = 5


def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (the epoch-capped complement to
    ``source_temperature_sample``): distribute a character budget across
    sources as uniformly as possible, but never exceed ``epoch_cap``
    repeats of any source. The UniMax sequential allocation (ascending
    size, each source gets min(cap, remaining/k)) is the waterfill
    alloc_i = min(cap_i, L) in real arithmetic; under integer floor
    division the two differ by at most the flooring remainder — the
    sequential scan hands <= 1 extra char to each unsaturated source,
    this closed form leaves those chars unspent (saturation sets are
    IDENTICAL; pinned by hypothesis in tests/test_selection.py). The
    closed form is used because it is order-free and windowable: over
    caps sorted ascending, source i is saturated
    iff cap_i * (n-i+1) + cumsum_{<i}(cap) <= budget (the lhs is
    nondecreasing in i, so the saturated set is a prefix and one window
    pass finds it), and the level L is the remaining budget split over
    the unsaturated suffix.

    Cross-engine exactness: every comparison and the level itself are
    int64 arithmetic (floor division); the only double is the final
    epochs ratio, one correctly-rounded division. Physical plan: one
    map-side-combined agg over documents -> 20-row frame; the window,
    the scalar crossJoins, and the output are all driver-trivial, so at
    100 TB the query costs exactly one corpus scan.
    """
    docs = load_table(spark, "documents", sf_dir)
    # the 20-row per-source mass is referenced by tot, ranked AND (via
    # ranked) lvl — localCheckpoint it so the corpus is scanned ONCE
    # (the Spark twin of an AS MATERIALIZED CTE; without it the plan
    # re-derives the agg per reference and scans documents three times)
    sizes = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("size_chars")
    ).localCheckpoint()
    tot = sizes.agg(
        F.sum("size_chars").cast("long").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    w = Window.orderBy("size_chars", "source")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    ranked = (
        sizes.crossJoin(F.broadcast(tot))
        .withColumn(
            "cap_chars", F.col("size_chars") * F.lit(_UNIMAX_EPOCH_CAP)
        )
        .withColumn(
            "_budget",
            F.expr(
                f"_total * {_UNIMAX_BUDGET_NUM} div {_UNIMAX_BUDGET_DEN}"
            ),
        )
        .withColumn("_idx", F.row_number().over(w).cast("long"))
        .withColumn(
            "_cum_prev",
            F.coalesce(F.sum("cap_chars").over(w_prev), F.lit(0)).cast(
                "long"
            ),
        )
        .withColumn(
            "saturated",
            F.col("cap_chars") * (F.col("_n") - F.col("_idx") + F.lit(1))
            + F.col("_cum_prev")
            <= F.col("_budget"),
        )
    )
    lvl = ranked.agg(
        F.sum(
            F.when(F.col("saturated"), F.col("cap_chars")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("_sat_sum"),
        F.count_if(F.col("saturated")).cast("long").alias("_j"),
    )
    return (
        ranked.crossJoin(F.broadcast(lvl))
        .withColumn(
            "alloc_chars",
            F.when(F.col("saturated"), F.col("cap_chars")).otherwise(
                F.expr("(_budget - _sat_sum) div (_n - _j)")
            ),
        )
        .select(
            "source",
            "size_chars",
            "cap_chars",
            "saturated",
            "alloc_chars",
            (
                F.col("alloc_chars").cast("double")
                / F.col("size_chars").cast("double")
            ).alias("epochs"),
        )
    )


register(
    QuerySpec(
        name="unimax_allocation",
        description="UniMax epoch-capped waterfill: per-source character "
        "allocation, closed-form over one window pass (all-int64)",
        spark=q_unimax_allocation,
        oracle=f"""
            WITH sizes AS (
                SELECT source, CAST(sum(n_chars) AS BIGINT) AS size_chars
                FROM documents GROUP BY source
            ), tot AS (
                SELECT CAST(sum(size_chars) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS n
                FROM sizes
            ), ranked AS (
                SELECT s.source, s.size_chars,
                       s.size_chars * {_UNIMAX_EPOCH_CAP} AS cap_chars,
                       t.total * {_UNIMAX_BUDGET_NUM}
                           // {_UNIMAX_BUDGET_DEN} AS budget,
                       t.n AS n,
                       CAST(row_number() OVER (
                            ORDER BY s.size_chars, s.source) AS BIGINT)
                         AS idx,
                       CAST(COALESCE(sum(s.size_chars * {_UNIMAX_EPOCH_CAP})
                            OVER (ORDER BY s.size_chars, s.source
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS BIGINT)
                         AS cum_prev
                FROM sizes s CROSS JOIN tot t
            ), flags AS (
                SELECT *,
                       cap_chars * (n - idx + 1) + cum_prev <= budget
                         AS saturated
                FROM ranked
            ), lvl AS (
                SELECT CAST(COALESCE(
                           sum(cap_chars) FILTER (WHERE saturated), 0)
                         AS BIGINT) AS sat_sum,
                       CAST(count(*) FILTER (WHERE saturated) AS BIGINT)
                         AS j
                FROM flags
            ), alloc AS (
                SELECT f.source, f.size_chars, f.cap_chars, f.saturated,
                       CASE WHEN f.saturated THEN f.cap_chars
                            ELSE (f.budget - l.sat_sum) // (f.n - l.j)
                       END AS alloc_chars
                FROM flags f CROSS JOIN lvl l
            )
            SELECT source, size_chars, cap_chars, saturated, alloc_chars,
                   CAST(alloc_chars AS DOUBLE) / CAST(size_chars AS DOUBLE)
                     AS epochs
            FROM alloc
        """,
    )
)


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) eval-quota apportionment
# ---------------------------------------------------------------------------

#: Eval-set size as a fraction of the corpus: K = N div 50 (2%). A
#: fraction, not an absolute count (scale-free).
_QUOTA_DEN = 50


def q_eval_quota_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional eval-set quotas per source by the largest-
    remainder (Hamilton) method — the apportionment a held-out split
    needs when hash sampling's binomial noise is unacceptable (per-source
    quotas must sum EXACTLY to K and each sit within 1 doc of the real
    proportional share):

        base_s  = floor(K * n_s / N)
        bonus_s = 1 for the (K - sum base) largest remainders
                  (K * n_s mod N), ties broken by source name
        quota_s = base_s + bonus_s

    All arithmetic is int64 (floor division and mod mirror DuckDB's
    ``//``/``%`` on BIGINT for the nonnegative operands here), so the
    oracle hash-matches bit-for-bit. The shortfall always fits: sum of
    remainders = N * shortfall and every remainder < N, so there are
    strictly more positive remainders than bonuses whenever shortfall >
    0 — no bonus ever lands on an exact-share source. int64 bound:
    K * n_s <= N^2 / 50 stays in range up to ~21e9 docs; past that,
    apportion per-shard and re-apportion the shard quotas.

    Plan: one map-side-combined count agg over documents (the 20-row
    result localCheckpointed -> ONE corpus scan), two scalar broadcasts,
    a 20-row window. Invariants (sum == K, per-source error < 1 doc)
    are pinned in tests/test_selection.py.
    """
    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .localCheckpoint()
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("_n"))
    based = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("_k", F.expr(f"_n div {_QUOTA_DEN}"))
        .withColumn("base_quota", F.expr("(n_docs * _k) div _n"))
        .withColumn("remainder", F.expr("(n_docs * _k) % _n"))
    )
    shortfall = based.agg(
        (F.max("_k") - F.sum("base_quota")).cast("long").alias("_shortfall")
    )
    w = Window.orderBy(F.col("remainder").desc(), F.col("source"))
    return (
        based.crossJoin(F.broadcast(shortfall))
        .withColumn("_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "bonus",
            (F.col("_rank") <= F.col("_shortfall")).cast("long"),
        )
        .select(
            "source",
            "n_docs",
            "base_quota",
            F.col("remainder").cast("long").alias("remainder"),
            "bonus",
            (F.col("base_quota") + F.col("bonus")).alias("quota"),
        )
    )


register(
    QuerySpec(
        name="eval_quota_apportionment",
        description="largest-remainder (Hamilton) per-source eval quotas: "
        "exact proportional split, all-int64, quotas sum exactly to K",
        spark=q_eval_quota_apportionment,
        oracle=f"""
            WITH counts AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source
            ), tot AS (
                SELECT CAST(sum(n_docs) AS BIGINT) AS n,
                       CAST(sum(n_docs) AS BIGINT) // {_QUOTA_DEN} AS k
                FROM counts
            ), based AS (
                SELECT c.source, c.n_docs,
                       (c.n_docs * t.k) // t.n AS base_quota,
                       (c.n_docs * t.k) % t.n AS remainder,
                       t.k AS k
                FROM counts c CROSS JOIN tot t
            ), short AS (
                SELECT CAST(max(k) - sum(base_quota) AS BIGINT) AS shortfall
                FROM based
            ), ranked AS (
                SELECT b.*,
                       CAST(row_number() OVER (
                            ORDER BY b.remainder DESC, b.source) AS BIGINT)
                         AS rnk,
                       s.shortfall
                FROM based b CROSS JOIN short s
            )
            SELECT source, n_docs, base_quota,
                   CAST(remainder AS BIGINT) AS remainder,
                   CAST(rnk <= shortfall AS BIGINT) AS bonus,
                   base_quota + CAST(rnk <= shortfall AS BIGINT) AS quota
            FROM ranked
        """,
    )
)


# ---------------------------------------------------------------------------
# Robust per-source length statistics: exact median + MAD
# ---------------------------------------------------------------------------


def q_source_length_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust length profile — exact median and median
    absolute deviation (MAD), the outlier-resistant pair a curation
    pipeline reads before trusting mean/stddev on heavy-tailed corpora.

    Exactness: Spark's ``median`` and DuckDB's ``quantile_cont(_, 0.5)``
    use the same interpolation (average of the two middle order
    statistics — probe-verified 2.5 on {1,2,3,4}), int64 inputs make
    that average an exact binary fraction, ``abs`` of exact doubles is
    exact, and the second median inherits the property — so the oracle
    hash-matches with no rounding anywhere. ``dispersion`` =
    mad/median is one correctly-rounded division (NULL when median=0).

    MAD is inherently TWO-PASS (the deviations need the median), so the
    plan reads documents twice: pass 1 aggregates the 20-row medians
    frame (localCheckpointed, broadcast back), pass 2 aggregates
    deviations. Both are map-side-combined single shuffles; no
    windowed-median over the raw corpus (a whole-partition window sort
    per source would shuffle the same data but sort it wider).
    """
    docs = load_table(spark, "documents", sf_dir).select(
        "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    med = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.median("n_chars").alias("median_chars"),
        )
        .localCheckpoint()
    )
    dev = docs.join(
        F.broadcast(med.select("source", "median_chars")), "source"
    ).select(
        "source",
        F.abs(
            F.col("n_chars").cast("double") - F.col("median_chars")
        ).alias("dev"),
    )
    mad = dev.groupBy("source").agg(F.median("dev").alias("mad_chars"))
    return med.join(mad, "source").select(
        "source",
        "n_docs",
        "median_chars",
        "mad_chars",
        F.when(
            F.col("median_chars") > 0,
            F.col("mad_chars") / F.col("median_chars"),
        ).alias("dispersion"),
    )


register(
    QuerySpec(
        name="source_length_mad",
        description="per-source exact median + MAD of document length "
        "(two-pass robust stats, interpolation-matched across engines)",
        spark=q_source_length_mad,
        oracle="""
            WITH med AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       quantile_cont(n_chars, 0.5) AS median_chars
                FROM documents GROUP BY source
            ), dev AS (
                SELECT d.source,
                       abs(CAST(d.n_chars AS DOUBLE) - m.median_chars)
                         AS dev
                FROM documents d JOIN med m USING (source)
            ), mad AS (
                SELECT source, quantile_cont(dev, 0.5) AS mad_chars
                FROM dev GROUP BY source
            )
            SELECT m.source, m.n_docs, m.median_chars, mad.mad_chars,
                   CASE WHEN m.median_chars > 0
                        THEN mad.mad_chars / m.median_chars END
                     AS dispersion
            FROM med m JOIN mad USING (source)
        """,
    )
)


#: GK-sketch accuracy for the eval-split prefilter (rank error <=
#: n_s / _EVAL_PRE_ACCURACY per source).
_EVAL_PRE_ACCURACY = 10_000

#: Prefilter percentile: quota fraction (1/_QUOTA_DEN) plus enough margin
#: that the sketch's returned element provably ranks >= quota_s. Need
#: p*n_s - n_s/A >= n_s/_QUOTA_DEN + 1 (quota_s <= n_s/50 + 1), i.e.
#: n_s * (p - 1/A - 1/50) >= 1: holds for every source with n_s >= 715;
#: smaller sources are caught by the exact survivor-count check below and
#: full-ranked (trivially cheap at that size). Overshoot is bounded the
#: same way: survivors <= (p + 1/A) * n_s = 2.16% of the source — a ~46x
#: cut in sorted volume vs ranking the whole corpus.
_EVAL_PRE_FRACTION = 0.0215


def q_eval_split_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized eval set the Hamilton quotas promise: within
    each source, rank documents by a salted deterministic hash (so
    membership is reproducible on any engine and uncorrelated with
    doc_id order) and keep exactly ``quota_s`` of them. Composes
    :func:`q_eval_quota_apportionment`'s math end-to-end — the output
    count per source IS the quota, so the eval set is exactly
    proportional with zero binomial noise (the property hash-threshold
    sampling cannot give).

    Plan (don't sort what the quota will discard): a
    full per-source window rank sorts 100% of the corpus to keep 2%.
    Instead, two-phase:

    1. GK-sketch the per-source rank-key quantile at
       ``_EVAL_PRE_FRACTION`` (one map-side-combined sketch agg),
       broadcast the 20-row thresholds, and prefilter to rows with
       ``rank_key <= threshold_s``. Because the keys are totally
       ordered and (60-bit-hash) duplicate-free, the survivors are an
       exact PREFIX of each source's global order — so ranking only
       them reproduces the global ranks verbatim.
    2. Soundness is checked EXACTLY, not assumed: a survivor count
       per source (cheap partial agg) must reach quota_s; any source
       where the sketch under-shot (possible only below ~715 docs,
       see the margin math on ``_EVAL_PRE_FRACTION``) falls back to
       the plain full window FOR THAT SOURCE ONLY. The union is
       byte-identical to the single-window plan on every input.

    The window sort now touches ~2.16% of rows instead of 100% — the
    at-100TB difference between sorting the corpus and sorting an
    eval-sized sliver. Measured honestly at sf0.1 (idle box,
    min-of-5): the two-phase plan is SLOWER there — 1.08 s vs 0.61 s
    for the plain window — because at 5,000 docs the sort is free and
    the extra fixed job costs (sketch agg, survivor count, two
    localCheckpoints) dominate; the sorted volume still drops 5,000 ->
    ~110 rows. The plan is kept because the narrow (source, doc_id)
    shuffle-sort the plain window pays grows with the corpus (~0.4 TB
    to shuffle AND sort at 100 TB) while the two-phase overhead stays
    a constant handful of jobs plus linear scans; the crossover sits
    far above local test SFs but well below production corpus sizes.
    Ties are impossible (h60 is injective on the
    salted doc_id strings in 60 bits for any real corpus; rank ties
    would need a 60-bit collision, and the residual order-by doc_id
    makes even that deterministic). Parity with the plain single-window
    plan, including forced-fallback sources, is pinned in
    tests/test_selection.py.
    """
    docs = load_table(spark, "documents", sf_dir).select("source", "doc_id")
    quotas = (
        q_eval_quota_apportionment(spark, sf_dir)
        .select("source", "quota")
        .localCheckpoint()  # 20 rows, read three times below
    )
    return _eval_members_prefiltered(
        docs, quotas, _EVAL_PRE_FRACTION, _EVAL_PRE_ACCURACY
    )


def _eval_members_prefiltered(
    docs: DataFrame,
    quotas: DataFrame,
    fraction: float,
    accuracy: int,
) -> DataFrame:
    """Two-phase quota selection over ``docs(source, doc_id)`` against a
    broadcastable ``quotas(source, quota)`` frame; see
    :func:`q_eval_split_members` for the soundness argument. ``fraction``
    and ``accuracy`` are injectable so tests can force the fallback
    branch (a deliberately-undershooting fraction must still produce
    byte-identical output via the per-source full-rank path)."""
    rank_key = X.h60(
        F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.withColumn("_rk", rank_key)

    # Phase 1: per-source prefilter threshold (20-row sketch agg).
    thresholds = (
        keyed.groupBy("source")
        .agg(
            F.percentile_approx(
                "_rk", F.lit(fraction), F.lit(accuracy)
            ).alias("_thr")
        )
        .localCheckpoint()
    )

    # Exact soundness check: survivors per source must cover the quota.
    surv_counts = (
        keyed.join(F.broadcast(thresholds), "source")
        .filter(F.col("_rk") <= F.col("_thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
    )
    ok_sources = (
        quotas.join(surv_counts, "source", "left")
        .filter(F.coalesce(F.col("_m"), F.lit(0)) >= F.col("quota"))
        .select("source")
        .localCheckpoint()  # <= 20 rows
    )

    w = Window.partitionBy("source").orderBy(
        F.col("_rk").asc(), F.col("doc_id").asc()
    )
    # Fast path: rank only the prefix survivors of provably-covered
    # sources (prefix property => ranks equal the global ranks).
    fast = (
        keyed.join(F.broadcast(thresholds), "source")
        .join(F.broadcast(ok_sources), "source", "semi")
        .filter(F.col("_rk") <= F.col("_thr"))
    )
    # Fallback: full rank, but ONLY for sources the check rejected
    # (normally none; always tiny ones).
    slow = keyed.join(F.broadcast(ok_sources), "source", "anti")
    return (
        fast.select("source", "doc_id", "_rk")
        .unionByName(slow.select("source", "doc_id", "_rk"))
        .withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .join(F.broadcast(quotas), "source")
        .filter(F.col("rank_in_source") <= F.col("quota"))
        .select("source", "doc_id", "rank_in_source")
    )


_EVAL_RANK_SQL = h60_sql("'eval:' || CAST(doc_id AS VARCHAR)")

register(
    QuerySpec(
        name="eval_split_members",
        description="materialized exactly-proportional eval set: salted "
        "hash-rank within source, top quota_s per source (zero binomial "
        "noise)",
        spark=q_eval_split_members,
        oracle=f"""
            WITH counts AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source
            ), tot AS (
                SELECT CAST(sum(n_docs) AS BIGINT) AS n,
                       CAST(sum(n_docs) AS BIGINT) // {_QUOTA_DEN} AS k
                FROM counts
            ), based AS (
                SELECT c.source,
                       (c.n_docs * t.k) // t.n AS base_quota,
                       (c.n_docs * t.k) % t.n AS remainder,
                       t.k AS k
                FROM counts c CROSS JOIN tot t
            ), short AS (
                SELECT CAST(max(k) - sum(base_quota) AS BIGINT) AS shortfall
                FROM based
            ), quotas AS (
                SELECT b.source,
                       b.base_quota
                       + CAST(CAST(row_number() OVER (
                             ORDER BY b.remainder DESC, b.source) AS BIGINT)
                           <= s.shortfall AS BIGINT) AS quota
                FROM based b CROSS JOIN short s
            ), ranked AS (
                SELECT source, doc_id,
                       CAST(row_number() OVER (
                            PARTITION BY source
                            ORDER BY {_EVAL_RANK_SQL} ASC, doc_id ASC)
                         AS BIGINT) AS rank_in_source
                FROM documents
            )
            SELECT r.source, r.doc_id, r.rank_in_source
            FROM ranked r JOIN quotas q USING (source)
            WHERE r.rank_in_source <= q.quota
        """,
    )
)


# ---------------------------------------------------------------------------
# Eval-set decontamination: compose the Hamilton eval split with
# the MinHash-LSH near-dup detector — the audit every benchmark-holdout
# pipeline runs before trusting its eval numbers.
# ---------------------------------------------------------------------------


def q_eval_train_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage between the materialized eval split and its
    training remainder: an eval document is CONTAMINATED when the
    MinHash-LSH detector links it to any non-eval document. The pair
    corpus is documents + planted prefix-truncated near-dup copies
    (id+1e6, never eval members), so every eval doc has a train twin by
    construction and the detector's recall on the leak path gets
    externally verified numbers, not an assumed 0.

    Plan: the LSH pair frame is filtered down with one
    semi-join + one anti-join per side against the eval membership —
    eval is ~2% of the corpus, so these are key-only shuffle joins, no
    broadcast of corpus-scale state; the census is a 20-group agg. At
    100 TB the whole query rides the already-bounded LSH candidate
    pipeline plus two joins keyed on int64 doc ids.
    """
    from .extensions import _near_dup_pairs

    ev = (
        q_eval_split_members(spark, sf_dir)
        .select("source", "doc_id")
        .localCheckpoint()
    )
    pairs = _near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    # membership flags via TWO left joins (not semi+anti per side, which
    # costs four shuffle joins for the same predicate): a pair leaks when
    # exactly one side is an eval member, and the leak's source comes
    # along on the same join — no third attribution join
    ev_a = ev.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    ev_b = ev.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    flagged = pairs.join(ev_a, "id_a", "left").join(ev_b, "id_b", "left")
    leaks = flagged.filter(
        F.col("src_a").isNotNull() != F.col("src_b").isNotNull()
    ).select(
        F.coalesce(F.col("src_a"), F.col("src_b")).alias("source"),
        F.when(F.col("src_a").isNotNull(), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("eval_id"),
    )
    per_src = leaks.groupBy("source").agg(
        F.countDistinct("eval_id").alias("n_contaminated"),
        F.count(F.lit(1)).alias("n_leak_pairs"),
    )
    n_eval = ev.groupBy("source").agg(F.count(F.lit(1)).alias("n_eval"))
    return n_eval.join(F.broadcast(per_src), "source", "left").select(
        "source",
        "n_eval",
        F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).alias(
            "n_contaminated"
        ),
        F.coalesce(F.col("n_leak_pairs"), F.lit(0).cast("long")).alias(
            "n_leak_pairs"
        ),
        (
            F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).cast(
                "double"
            )
            / F.col("n_eval").cast("double")
        ).alias("contamination_rate"),
    )


def _eval_contamination_oracle() -> str:
    from .extensions import _MINHASH_ORACLE
    from .registry import REGISTRY

    eval_sql = REGISTRY["eval_split_members"].oracle
    return f"""
        WITH ev AS MATERIALIZED (
            SELECT source, doc_id FROM ( {eval_sql} )
        ),
        pairs AS MATERIALIZED ( {_MINHASH_ORACLE} ),
        leaks AS (
            SELECT p.id_a AS eval_id, p.id_b AS train_id FROM pairs p
            WHERE p.id_a IN (SELECT doc_id FROM ev)
              AND p.id_b NOT IN (SELECT doc_id FROM ev)
            UNION ALL
            SELECT p.id_b AS eval_id, p.id_a AS train_id FROM pairs p
            WHERE p.id_b IN (SELECT doc_id FROM ev)
              AND p.id_a NOT IN (SELECT doc_id FROM ev)
        ),
        agg AS (
            SELECT e.source,
                   count(DISTINCT l.eval_id) AS n_contaminated,
                   count(*) AS n_leak_pairs
            FROM leaks l JOIN ev e ON l.eval_id = e.doc_id
            GROUP BY 1
        ),
        ne AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_eval
            FROM ev GROUP BY 1
        )
        SELECT ne.source,
               ne.n_eval,
               CAST(COALESCE(a.n_contaminated, 0) AS BIGINT)
                   AS n_contaminated,
               CAST(COALESCE(a.n_leak_pairs, 0) AS BIGINT) AS n_leak_pairs,
               CAST(COALESCE(a.n_contaminated, 0) AS DOUBLE)
                   / CAST(ne.n_eval AS DOUBLE) AS contamination_rate
        FROM ne LEFT JOIN agg a ON ne.source = a.source
    """


register(
    QuerySpec(
        name="eval_train_contamination",
        description="near-dup leakage census between the Hamilton eval "
        "split and its training remainder via the MinHash-LSH detector",
        spark=q_eval_train_contamination,
        oracle=_eval_contamination_oracle(),
    )
)


# ---------------------------------------------------------------------------
# Doc-level repetition plan: materialize the UniMax allocation.
# ---------------------------------------------------------------------------


#: Histogram-prefilter bucket bits for q_repetition_plan. h60 is uniform on [0, 2^60) by construction, so a
#: fixed-width histogram over the rank key's top ``bits`` bits gives the
#: EXACT cumulative char mass per bucket in one tiny hash-agg — the
#: weighted-quantile the greedy char-prefix cut needs, with no sketch
#: error, no coverage re-check, and no fallback branch. 2^10 buckets
#: bound the over-read at ~1/1024 of each source's rows past the
#: remainder boundary. (A percentile_approx quantile-grid variant with
#: an exact coverage check + full-window fallback was built first and
#: REJECTED on measurement: 1.941 s x1 / 6.054 s x100 vs the plain
#: single-window plan's 1.153 / 1.778 — five corpus scans and three
#: checkpoints swamped the sort savings. The histogram needs two scans.)
_REP_PRE_BITS = 10


def _repetition_census_prefiltered(
    docs: DataFrame, ua: DataFrame, bits: int
) -> DataFrame:
    """Two-phase greedy-prefix census over ``docs(source, doc_id,
    n_chars)`` against a broadcastable ``ua(source, size_chars,
    alloc_chars)`` frame: per source ``(n_docs, n_extra_docs,
    extra_chars)`` where the extra docs are the rank-ordered prefix
    whose running char sum fits ``rem = alloc_chars % size_chars``.

    Soundness (exact, branch-free): phase 1 histograms the corpus by
    the rank key's top ``bits`` bits — per (source, bucket) doc count
    and char mass. Buckets partition the (rank, doc_id) order into
    contiguous runs, so the minimal bucket prefix whose char mass
    covers ``rem`` provably contains the whole greedy doc prefix (the
    prefix stops at the first doc whose running sum exceeds ``rem``,
    which happens at or before the covering edge). Phase 2 windows
    ONLY the rows at buckets <= that edge — those rows are themselves
    an exact order prefix, so their running sums equal the full
    corpus's. ``bits`` is injectable so tests can sweep it (bits=0
    keeps every row — the plan IS the plain window) and assert
    byte-identical output at every setting.
    """
    shift = 60 - bits
    rank_key = X.h60(
        F.concat(F.lit("rep:"), F.col("doc_id").cast("string"))
    )
    keyed = docs.withColumn("_rk", rank_key)

    # Phase 1: ONE map-side-combined pass over the corpus -> at most
    # n_sources * 2^bits rows.
    hist = (
        keyed.groupBy(
            "source", F.shiftright("_rk", shift).alias("_bk")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("_cnt"),
            F.sum("n_chars").cast("long").alias("_mass"),
        )
        .localCheckpoint()  # tiny; read twice below
    )
    wb = (
        Window.partitionBy("source")
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # rem < size_chars = total mass, so a covering edge always exists.
    thresholds = (
        hist.withColumn("_cum", F.sum("_mass").over(wb))
        .join(
            F.broadcast(
                ua.withColumn(
                    "rem_chars",
                    F.expr("alloc_chars % size_chars").cast("long"),
                )
            ),
            "source",
        )
        .filter(F.col("_cum") >= F.col("rem_chars"))
        .groupBy("source")
        .agg(
            F.min("_bk").alias("_edge"),
            F.min("rem_chars").alias("rem_chars"),  # constant per source
        )
        .localCheckpoint()  # <= n_sources rows
    )

    # Phase 2: window only the covering bucket prefix.
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("_rk").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    extra = (
        keyed.join(F.broadcast(thresholds), "source")
        .filter(F.shiftright("_rk", shift) <= F.col("_edge"))
        .withColumn("cum_chars", F.sum("n_chars").over(w).cast("long"))
        .withColumn("selected", F.col("cum_chars") <= F.col("rem_chars"))
        .groupBy("source")
        .agg(
            F.count_if(F.col("selected")).cast("long").alias("n_extra_docs"),
            F.sum(F.when(F.col("selected"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("extra_chars"),
        )
    )
    return (
        hist.groupBy("source")
        .agg(F.sum("_cnt").cast("long").alias("n_docs"))
        .join(F.broadcast(extra), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_extra_docs"), F.lit(0).cast("long")).alias(
                "n_extra_docs"
            ),
            F.coalesce(F.col("extra_chars"), F.lit(0).cast("long")).alias(
                "extra_chars"
            ),
        )
    )


def q_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize UniMax down to documents: each source's allocation
    becomes ``full_epochs`` verbatim repeats of the whole source plus a
    deterministic greedy prefix (docs ordered by salted hash, taken
    while the running char sum fits the remainder) for the fractional
    epoch — the per-doc repeat factors a mixture-building job actually
    executes. Census per source: how many docs ride the extra epoch,
    the chars they fill, and the unfilled quantization gap (bounded by
    one document, never split).

    Exactness: everything is int64 (floor div / mod / running sum);
    ``realized_epochs`` is one correctly-rounded double division.
    Plan:
    the 20-row allocation localCheckpoints, and the per-source running
    sum runs a WEIGHTED-QUANTILE analogue of eval_split_members' GK
    prefilter two-phase cut instead of windowing 100% of the corpus.
    The rank-quantile cut does not transfer verbatim (the boundary here
    is on cumulative CHARS, not row rank), so phase 1 builds an exact
    char-mass histogram over the uniform rank key's top bits and phase
    2 windows only the minimal bucket prefix covering each source's
    remainder — see :func:`_repetition_census_prefiltered` for the
    exactness argument (branch-free: the covering edge is computed from
    exact masses, so no coverage re-check or fallback is needed).
    Output is byte-identical to the plain single-window plan on every
    input (bits-sweep parity vs an independent Python twin pinned in
    tests/test_selection.py); only ~(rem/size + 2^-bits) of each
    source's rows are sorted.

    Measured (min-of-3): histogram 1.737 s x1 / 3.804 s x100 vs the
    plain window's 1.153 / 1.778 — the second column-pruned scan costs
    more than the saved sort while the per-source sort still fits one
    task. The prefilter is kept anyway, on the axis the probe
    corpus cannot reach: the plain window's partitionBy(source) caps
    parallelism at n_sources (~20) and sorts each ENTIRE source in a
    single task (~5e9 rows/task at 100 TB, a guaranteed spill), while
    the prefiltered sort touches only the remainder fraction; the extra
    cost is one linear, fully-parallel 3-column scan. This is the
    opposite trade to the rejected BM25 prefilter (2x slower with no
    asymptotic advantage, plans/extensions.py).
    """
    ua = (
        q_unimax_allocation(spark, sf_dir)
        .select("source", "size_chars", "alloc_chars")
        .localCheckpoint()
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "source", "doc_id", "n_chars"
    )
    census = _repetition_census_prefiltered(docs, ua, _REP_PRE_BITS)
    return (
        census
        .join(F.broadcast(ua), "source")
        .select(
            "source",
            "n_docs",
            F.expr("alloc_chars div size_chars").alias("full_epochs"),
            "n_extra_docs",
            "extra_chars",
            (
                F.expr("(alloc_chars div size_chars) * size_chars")
                + F.col("extra_chars")
            ).alias("planned_chars"),
            (
                F.col("alloc_chars")
                - F.expr("(alloc_chars div size_chars) * size_chars")
                - F.col("extra_chars")
            ).alias("unfilled_chars"),
            (
                (
                    F.expr("(alloc_chars div size_chars) * size_chars")
                    + F.col("extra_chars")
                ).cast("double")
                / F.col("size_chars").cast("double")
            ).alias("realized_epochs"),
        )
    )


def _repetition_oracle() -> str:
    from .registry import REGISTRY

    ua_sql = REGISTRY["unimax_allocation"].oracle
    rk_sql = h60_sql("'rep:' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH ua AS MATERIALIZED (
            SELECT source, size_chars, alloc_chars FROM ( {ua_sql} )
        ),
        cum AS (
            SELECT d.source, d.n_chars,
                   CAST(sum(d.n_chars) OVER (
                        PARTITION BY d.source
                        ORDER BY {rk_sql} ASC, d.doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_chars,
                   u.size_chars, u.alloc_chars,
                   u.alloc_chars % u.size_chars AS rem_chars
            FROM documents d JOIN ua u ON d.source = u.source
        ),
        g AS (
            SELECT source,
                   count(*) AS n_docs,
                   CAST(COALESCE(count(*) FILTER (
                        WHERE cum_chars <= rem_chars), 0) AS BIGINT)
                     AS n_extra_docs,
                   CAST(COALESCE(sum(n_chars) FILTER (
                        WHERE cum_chars <= rem_chars), 0) AS BIGINT)
                     AS extra_chars
            FROM cum GROUP BY 1
        )
        SELECT g.source,
               CAST(g.n_docs AS BIGINT) AS n_docs,
               u.alloc_chars // u.size_chars AS full_epochs,
               g.n_extra_docs,
               g.extra_chars,
               (u.alloc_chars // u.size_chars) * u.size_chars
                   + g.extra_chars AS planned_chars,
               u.alloc_chars
                   - (u.alloc_chars // u.size_chars) * u.size_chars
                   - g.extra_chars AS unfilled_chars,
               CAST((u.alloc_chars // u.size_chars) * u.size_chars
                    + g.extra_chars AS DOUBLE)
                   / CAST(u.size_chars AS DOUBLE) AS realized_epochs
        FROM g JOIN ua u ON g.source = u.source
    """


register(
    QuerySpec(
        name="repetition_plan",
        description="doc-level UniMax materialization: full-epoch repeats "
        "plus a hash-ordered greedy prefix for the fractional epoch",
        spark=q_repetition_plan,
        oracle=_repetition_oracle(),
    )
)
