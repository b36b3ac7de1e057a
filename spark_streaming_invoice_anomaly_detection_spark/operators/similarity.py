"""Similarity search over embedding columns (SURVEY.md §7 Phase 4).

Two tiers:

- brute-force cosine top-k: exact baseline — one scan, native array
  arithmetic, TakeOrdered for the k cut (no full sort)
- random-hyperplane LSH: signs against h60-seeded hyperplanes bucket the
  vectors; queries probe only their own bucket (plus optional multi-probe).
  The scale path: bucket join instead of scan-everything.

The hyperplanes derive from the same md5/h60 primitive as the dedup
operators — deterministic, seedable, and reproducible by the DuckDB oracle
(no driver-side RNG state to ship).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine
from .text import h60


def cosine_to_query(vec_col: Column | str, query: list[float]) -> Column:
    """Cosine between each row's vector and a fixed query vector literal.

    The literal is ONE F.lit(list) call, not 64 element-wise F.lit calls:
    driver-side py4j round-trips were the dominant cost of building the
    embedding family's plans (similarity_topk_lsh spent 3.2 s building vs
    0.3 s executing at sf0.1); the array literal is value-identical."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    q = F.lit([float(x) for x in query])
    return cosine(c, q)


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``.

    orderBy+limit compiles to TakeOrderedAndProject: each partition keeps
    its k best, the driver merges — O(n) scan, no shuffle of the full set.
    Ties break on id for determinism.
    """
    return (
        df.select(
            F.col(id_col), cosine_to_query(vec_col, query).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplane_component(plane: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    h60('rp:<plane>:<dim>') scaled — reproducible in SQL, no RNG state."""
    return (
        h60(F.lit(f"rp:{plane}:{dim}")).cast("double") / F.lit(float(1 << 59))
    ) - F.lit(1.0)


def rp_lsh_signature(
    vec_col: Column | str, num_planes: int, dim: int
) -> Column:
    """Random-projection sign signature packed into an int (bit p = sign of
    dot(vec, plane_p)).

    Planes are emitted as whole-array literals from rp_plane_values
    (bit-identical to the per-component Catalyst folding, see its
    docstring) — one py4j call per plane instead of ~6 per COMPONENT,
    which dominated the driver-side build time of every plan using this
    signature."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    vd = F.transform(v, lambda x: x.cast("double"))
    sig = None
    for p, vals in enumerate(rp_plane_values(num_planes, dim)):
        plane = F.lit(vals)
        dot = F.aggregate(
            F.zip_with(vd, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        term = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sig.cast("int")


def rp_lsh_bucket_guarded(
    vec_col: Column | str, budget: int, dim: int, mod_col: Column
) -> Column:
    """Adaptive-COST RP-LSH bucket: bit p contributes — and its 64-dim
    dot fold EVALUATES — only when 2**p < mod (CASE short-circuits
    per-row in both codegen and interpreted eval), so planes beyond what
    the current corpus size needs are free. For mod a power of two the
    guarded sum is bit-identical to ``rp_lsh_signature(...) % mod``:
    masking keeps exactly the bits with 2**p < mod. This is what lets
    the plane BUDGET sit far above any tested corpus (the ladder
    ceiling is where pair work turns quadratic again) without taxing
    small corpora with unused fold work."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    vd = F.transform(v, lambda x: x.cast("double"))
    sig = None
    for p, vals in enumerate(rp_plane_values(budget, dim)):
        plane = F.lit(vals)
        dot = F.aggregate(
            F.zip_with(vd, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        term = F.when(
            F.lit(1 << p) < mod_col,
            F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)),
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sig.cast("int")


def adaptive_bucket_modulus(
    corpus_n: Column, cap: Column | int, budget: int
) -> Column:
    """Modulus 2**p for adaptive LSH sub-blocking: p = smallest integer
    with  corpus_n <= cap * 2**p, clamped to [0, budget] — i.e. keeping
    the low p bits of a ``budget``-plane signature holds the expected
    block size at ``cap / base_block_count`` as the corpus grows, so
    in-block O(b^2) pair work stays linear in N. ``cap`` is
    base_block_count * target_block_rows (an int or a Column when the
    base-block cardinality is data-dependent).

    Built as an ascending chained CASE (first match wins) over exact
    integer thresholds — no log2/libm — so an ANSI oracle reproduces the
    modulus bit-for-bit from the same shared literals. Callers join the
    corpus count in as a broadcast 1-row aggregate and compute
    ``signature % modulus``; a corpus that stays small gets modulus 1
    (one bucket per base block: full in-block recall)."""
    cap_col = F.lit(cap) if isinstance(cap, int) else cap
    mod = F.when(corpus_n <= cap_col, F.lit(1))
    for p in range(1, budget):
        mod = mod.when(corpus_n <= cap_col * F.lit(1 << p), F.lit(1 << p))
    return mod.otherwise(F.lit(1 << budget))


def lsh_bucket_vectors(
    df: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its RP-LSH bucket: (id, bucket, vector)."""
    return df.select(
        F.col(id_col),
        rp_lsh_signature(vec_col, num_planes, dim).alias("bucket"),
        F.col(vec_col),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantize to cells, probe the query's
# nearest cells only — the other classic scale path next to RP-LSH. At
# 100 TB the cell column is the partition key: each probe touches
# n_probe/n_cells of the corpus and the cell assignment is one pass.
# ---------------------------------------------------------------------------


def _h60_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def ivf_centroid_values(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic coarse centroids from the same h60 scheme as the
    hyperplanes (production would k-means a sample; fixed centroids keep
    every engine — and the DuckDB oracle — bit-reproducible)."""
    return [
        [_h60_py(f"ivf:{c}:{d}") / float(1 << 59) - 1.0 for d in range(dim)]
        for c in range(n_cells)
    ]


def dot_py(a: list[float], b: list[float]) -> float:
    """Left-fold dot product — the exact accumulation order of the engine's
    F.aggregate fold (and of DuckDB's list_dot_product, bit-identity
    verified by the cosine oracles)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _dot_const(vd: Column, c: list[float]) -> Column:
    # one F.lit(list) call, not len(c) element-wise ones (py4j build cost)
    arr = F.lit([float(x) for x in c])
    return F.aggregate(
        F.zip_with(vd, arr, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )


def _dot_self(vd: Column) -> Column:
    return F.aggregate(
        F.transform(vd, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )


def ivf_cell(vec_col: Column | str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (argmin squared L2, ties -> lowest id).

    sqdist is expanded as ``(dot(v,v) - 2*dot(v,c)) + dot(c,c)`` with fixed
    association so the oracle's arithmetic is identical term by term;
    dot(c,c) is a Python-precomputed literal (same fold order).
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    vd = F.transform(v, lambda x: x.cast("double"))
    self_dot = _dot_self(vd)
    ds = [
        (self_dot - F.lit(2.0) * _dot_const(vd, c)) + F.lit(dot_py(c, c))
        for c in centroids
    ]
    m = F.least(*ds)
    cell = F.when(ds[0] == m, 0)
    for i in range(1, len(ds)):
        cell = cell.when(ds[i] == m, i)
    return cell


def inv_norm_py(c: list[float]) -> float:
    """1/|c| with the same fold order as dot_py — emitted as a literal on
    both engines so the spherical scores use identical arithmetic."""
    import math

    return 1.0 / math.sqrt(dot_py(c, c))


def ivf_cell_cosine(
    vec_col: Column | str, centroids: list[list[float]]
) -> Column:
    """Spherical (argmax-cosine) cell id, ties -> lowest id.

    The assignment a cosine-metric operator (SemDeDup, angular ANN) needs:
    cos(v, c) = dot(v, c) / (|v| |c|), and |v| is the same for every
    cell, so the argmax reduces to ``dot(v, c) * (1/|c|)`` with 1/|c| a
    Python-precomputed literal. Unlike the L2 argmin, this assignment is
    scale-invariant: copies of a vector (any positive scale) always land
    in the same cell, so direction-preserving near-dups are never split
    across cells. A zero vector scores 0.0 against every centroid and
    falls to cell 0 by the tie rule (both engines).
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    vd = F.transform(v, lambda x: x.cast("double"))
    scores = [
        _dot_const(vd, c) * F.lit(inv_norm_py(c)) for c in centroids
    ]
    m = F.greatest(*scores)
    cell = F.when(scores[0] == m, 0)
    for i in range(1, len(scores)):
        cell = cell.when(scores[i] == m, i)
    return cell


def ivf_probe_cells(
    query: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest the query (driver-side arithmetic on
    literals — no Spark job, same fold order as the engine expression)."""
    qq = dot_py(query, query)
    d = [(qq - 2.0 * dot_py(query, c)) + dot_py(c, c) for c in centroids]
    return sorted(range(len(centroids)), key=lambda i: (d[i], i))[:n_probe]


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking over only the query's
    ``n_probe`` nearest IVF cells (~n_probe/n_cells of the corpus scanned).

    The cell filter sits directly above the scan, so Catalyst prunes before
    the expensive cosine; with the corpus pre-partitioned/bucketed by cell
    (the deployment layout), the probe reads only the matching partitions.
    """
    centroids = ivf_centroid_values(n_cells, dim)
    probe = ivf_probe_cells(query, centroids, n_probe)
    assigned = df.select(
        F.col(id_col), F.col(vec_col), ivf_cell(vec_col, centroids).alias("cell")
    )
    return (
        assigned.filter(F.col("cell").isin(probe))
        .select(F.col(id_col), cosine_to_query(vec_col, query).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def rp_plane_values(num_planes: int, dim: int) -> list[list[float]]:
    """The hyperplane matrix as Python floats — EXACTLY the values
    `_hyperplane_component` produces in the JVM: dividing by 2^59 is a pure
    exponent shift, so `round_to_double(h60)/2^59 == round_to_double(h60/2^59)`
    and both engines (and the DuckDB oracle, via literal embedding) agree
    bit for bit."""
    return [
        [_h60_py(f"rp:{p}:{d}") / float(1 << 59) - 1.0 for d in range(dim)]
        for p in range(num_planes)
    ]


def rp_probe_buckets(
    query: list[float], num_planes: int, dim: int, n_probe_bits: int = 0
) -> list[int]:
    """Driver-side query signature + multi-probe expansion.

    Returns the query's own bucket first, then the buckets reached by
    flipping the ``n_probe_bits`` hyperplane bits with the smallest margin
    |dot(query, plane)| — the classic multi-probe recall lever (a
    near-boundary sign is the likeliest to differ for a true neighbor).
    All arithmetic is literal-fold (`dot_py`), so no Spark job runs.
    """
    planes = rp_plane_values(num_planes, dim)
    dots = [dot_py(query, p) for p in planes]
    sig = sum((1 << p) for p, d in enumerate(dots) if d >= 0)
    flips = sorted(range(num_planes), key=lambda p: (abs(dots[p]), p))
    return [sig] + [sig ^ (1 << p) for p in flips[:n_probe_bits]]


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: rank by cosine only within the query's bucket(s).

    With 2^num_planes buckets a single probe scans ~1/2^p of the corpus;
    recall comes from bucket collision probability (1 - theta/pi per plane).
    ``n_probe_bits`` > 0 adds multi-probe: also scan the buckets whose
    signature differs in one low-margin bit, trading (1 + n_probe_bits)
    bucket scans for recall. The probe set is computed on the driver from
    literals — no 1-row Spark job, no RNG state."""
    bucketed = lsh_bucket_vectors(df, num_planes, dim, vec_col, id_col)
    probes = rp_probe_buckets(query, num_planes, dim, n_probe_bits)
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(F.col(id_col), cosine_to_query(vec_col, query).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def sparse_cosine_join(
    tf: DataFrame,
    tau_num: int,
    tau_den: int,
    id_col: str = "doc_id",
    token_col: str = "token",
    tf_col: str = "tf",
) -> DataFrame:
    """Exact all-pairs sparse-cosine similarity join (APSS) with prefix
    filtering — every unordered pair whose term-frequency cosine meets
    ``tau_num/tau_den``, without the naive token self-join.

    Input is the sparse matrix as (id, token, tf>=1) rows, one row per
    distinct (id, token). Output: ``id_a < id_b``, the exact int64
    ``dot`` = sum(tf_a*tf_b), both squared norms, and ``cos_sq_bp`` =
    floor(10000 * dot^2 / (norm_a*norm_b)) — cosine-squared in basis
    points, all-integer so cross-engine hashes stay exact.

    The at-scale story is the candidate cut (Bayardo et al., WWW'07 /
    Xiao et al., WWW'08 prefix filtering), which keeps the result EXACT:
    order each vector's tokens by global document frequency ascending and
    index only the shortest prefix whose remaining suffix satisfies
    ``tau_den^2 * suffix_norm_sq < tau_num^2 * norm_sq``. For any pair
    with cos >= tau, some shared token must lie in each side's prefix
    (if all shared tokens sat in a's suffix, Cauchy-Schwarz gives
    dot <= ||a_suffix|| * ||b|| < tau * ||a|| * ||b||), so joining
    prefix entries against the full matrix on the token misses nothing.
    High-df tokens sort LAST and drop out of prefixes, so the quadratic
    blowup of hot tokens ("the") never reaches the join; a naive token
    self-join pays sum(df^2) — at corpus scale that single term dwarfs
    everything else in the plan.

    Plan: one map-side-combined df agg (vocab-sized), one per-id window
    for the suffix cumsum (partitions are single documents — bounded,
    skew-free), the prefix semi-join for candidates, and one exact
    verification agg keyed on (pair, token). No Python in the row path.

    Exactness bound: products are int64; ``10000 * dot^2`` requires
    ``dot < 3.03e7`` (sum tf^2 per doc <= n_tokens^2, so any document
    under ~5,500 tokens is safe; filter products ``tau_den^2 * dot^2``
    need ``tau_den * dot < 3.03e9``).
    """
    if not (0 < tau_num <= tau_den):
        raise ValueError("require 0 < tau_num <= tau_den")
    # The sparse matrix feeds FOUR consumers (df agg, norm agg, probe side,
    # both verification sides) and its lineage usually contains the corpus
    # tokenize+explode — materialize once instead of re-tokenizing per
    # consumer. Same for the doc-count-sized norm table (three consumers).
    t = tf.select(
        F.col(id_col).alias("id"),
        F.col(token_col).alias("token"),
        F.col(tf_col).cast("long").alias("tf"),
    ).localCheckpoint()
    df_tok = t.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nrm = (
        t.groupBy("id")
        .agg(F.sum(F.col("tf") * F.col("tf")).alias("nsq"))
        .localCheckpoint()
    )
    w = (
        Window.partitionBy("id")
        .orderBy(F.asc("df"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        t.join(df_tok, "token")
        .join(nrm, "id")
        .withColumn("cum", F.sum(F.col("tf") * F.col("tf")).over(w))
    )
    # suffix_sq at this row = nsq - cum + tf^2 (this row inclusive); index
    # while tau_den^2 * suffix_sq >= tau_num^2 * nsq. A single-token
    # vector always indexes its one token (suffix_sq == nsq, tau <= 1).
    suffix_sq = F.col("nsq") - F.col("cum") + F.col("tf") * F.col("tf")
    prefix = ranked.filter(
        F.lit(tau_den * tau_den) * suffix_sq
        >= F.lit(tau_num * tau_num) * F.col("nsq")
    ).select(F.col("id").alias("pid"), "token")
    probe = t.select(F.col("id").alias("qid"), "token")
    cand = (
        prefix.join(probe, "token")
        .filter(F.col("pid") != F.col("qid"))
        .select(
            F.least("pid", "qid").alias("id_a"),
            F.greatest("pid", "qid").alias("id_b"),
        )
        .distinct()
    )
    ta = t.select(
        F.col("id").alias("id_a"), "token", F.col("tf").alias("tf_a")
    )
    tb = t.select(
        F.col("id").alias("id_b"), "token", F.col("tf").alias("tf_b")
    )
    dots = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = nrm.select(F.col("id").alias("id_a"), F.col("nsq").alias("norm_sq_a"))
    nb = nrm.select(F.col("id").alias("id_b"), F.col("nsq").alias("norm_sq_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            F.lit(tau_den * tau_den) * F.col("dot") * F.col("dot")
            >= F.lit(tau_num * tau_num)
            * F.col("norm_sq_a")
            * F.col("norm_sq_b")
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            "norm_sq_a",
            "norm_sq_b",
            F.expr(
                "(10000 * dot * dot) div (norm_sq_a * norm_sq_b)"
            ).alias("cos_sq_bp"),
        )
    )
