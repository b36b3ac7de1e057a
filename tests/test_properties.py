"""Property-based tests (hypothesis) for the engine's pure logic and a few
Spark expressions — the SURVEY §5 test-strategy upgrade the reference never
had: semantics pinned over generated inputs, not just fixtures.
"""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import (
    elbow_selection,
)

# ---------------------------------------------------------------------------
# Elbow selection (M3): pure function, reference semantics
# ---------------------------------------------------------------------------

costs_lists = st.lists(
    st.floats(min_value=0.0, max_value=1e12, allow_nan=False),
    min_size=1,
    max_size=20,
)


@given(costs_lists, st.floats(min_value=0.1, max_value=0.99))
@settings(max_examples=300, deadline=None)
def test_elbow_is_first_break_else_last(costs, ratio):
    i = elbow_selection(costs, ratio)
    assert 0 <= i < len(costs)

    def breaks(j: int) -> bool:
        # IEEE semantics the Scala reference computes: x/0 = inf (>ratio),
        # 0/0 = nan (not > ratio)
        prev, cur = costs[j - 1], costs[j]
        if prev == 0:
            return cur != 0
        return cur / prev > ratio

    if i < len(costs) - 1 or (i >= 1 and breaks(i)):
        # selected because it breaks: nothing before it may break
        assert breaks(i)
        assert all(not breaks(j) for j in range(1, i))
    else:
        # fell through to last: no index breaks at all
        assert all(not breaks(j) for j in range(1, len(costs)))


# ---------------------------------------------------------------------------
# h60: Spark column twin of md5-prefix hashing (shared with every oracle)
# ---------------------------------------------------------------------------

ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


@given(st.lists(ascii_text, min_size=1, max_size=30, unique=True))
@settings(max_examples=5, deadline=None)
def test_h60_matches_md5_prefix_model(spark, strings):
    from spark_streaming_invoice_anomaly_detection_spark.operators.text import h60

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {r.s: r.h for r in df.select("s", h60(F.col("s")).alias("h")).collect()}
    for s in strings:
        expect = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        assert got[s] == expect


# ---------------------------------------------------------------------------
# Two-level cumsum binning (sequence packing): shard decomposition must
# equal the naive single-pass cumsum for ANY token sizes / shard width
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=200),
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=16, max_value=4096),
)
@settings(max_examples=200, deadline=None)
def test_two_level_cumsum_equals_naive(tokens, shard_width, bin_budget):
    # naive: exclusive global cumsum
    naive_bins = []
    off = 0
    for t in tokens:
        naive_bins.append(math.floor(off / float(bin_budget)))
        off += t

    # two-level: intra-shard running sum + per-shard prefix (the algebra
    # plans/extensions._binned_docs executes distributed)
    shards: dict[int, list[int]] = {}
    for i, t in enumerate(tokens):
        shards.setdefault(i // shard_width, []).append(t)
    prefix = 0
    two_level = []
    for sid in sorted(shards):
        cum_in = 0
        for t in shards[sid]:
            cum_in += t
            two_level.append(
                math.floor((prefix + cum_in - t) / float(bin_budget))
            )
        prefix += sum(shards[sid])
    assert two_level == naive_bins


# ---------------------------------------------------------------------------
# int8 quantization: error bound holds for arbitrary float vectors
# ---------------------------------------------------------------------------

vec = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=16,
)


@given(st.lists(vec, min_size=1, max_size=8))
@settings(max_examples=5, deadline=None)
def test_quantize_error_bound_random_vectors(spark, vectors):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vectors)], schema
    )

    # same expression chain the registered query uses
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
        vd,
        q,
        lambda x, qi: (x - qi.cast("double") * scale)
        * (x - qi.cast("double") * scale),
    )
    rows = df.select(
        F.size("embedding").alias("n"),
        scale.alias("scale"),
        F.aggregate(diff_sq, F.lit(0.0), lambda a, v: a + v).alias("err"),
    ).collect()
    for r in rows:
        # float32 ingestion adds at most a relative 2^-24 per element on
        # top of the rounding half-step bound
        bound = r.n * (r.scale / 2.0) ** 2 * (1 + 1e-6) + 1e-9
        assert r.err <= bound


# ---------------------------------------------------------------------------
# exactmath: scaled_long must be EXACT for any decimal-grid value — the
# property the entire oracle contract rests on
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=0, max_value=4),
)
@settings(max_examples=5, deadline=None)
def test_scaled_long_exact_on_decimal_grid(spark, cents, scale):
    """value = k / 10^scale (exactly representable inputs arrive as the
    nearest double); scaled_long must recover integer k for every k."""
    from spark_streaming_invoice_anomaly_detection_spark.functions.exactmath import (
        scaled_long,
    )

    df = spark.createDataFrame(
        [(k, float(k) / (10**scale)) for k in cents], "k long, v double"
    )
    rows = df.select(
        "k", scaled_long(F.col("v"), scale).alias("s")
    ).collect()
    for r in rows:
        assert r.s == r.k, f"scale={scale}: {r.k} -> {r.s}"


class TestScaledLongFormula:
    """The exactmath core formula floor(x*10^k + 0.5) must pick the true
    grid integer for EVERY k-decimal value an engine can hold — pinned by
    property test against arbitrary-precision Decimal (round-half-up),
    including negatives and the int64-relevant magnitude range."""

    @given(
        units=st.integers(min_value=-(10**15), max_value=10**15),
        scale=st.sampled_from([0, 2, 3, 4, 6]),
    )
    @settings(max_examples=500, deadline=None)
    def test_matches_decimal_half_up(self, units, scale):
        import math

        # x is an EXACT k-decimal grid point stored as the nearest double
        x = units / float(10**scale)
        got = math.floor(x * float(10**scale) + 0.5)
        assert got == units, (x, scale, got, units)


class TestGKDecileExactRegime:
    """Pin the license behind quality_calibration_map's hash oracle: in
    the exact regime, Spark's GK sketch (percentile_approx) returns the
    SAME element as DuckDB's quantile_disc at every decile position,
    across sizes and tie patterns — including the tie path real corpus
    data rarely exercises. A Spark or DuckDB upgrade that changes either
    side's tie-breaking fails here before it fails a grading run."""

    def test_deciles_match_quantile_disc(self, spark):
        import duckdb

        from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
            _CAL_DECILES,
        )

        cases: dict[int, list[float]] = {}
        cid = 0
        for n in [1, 2, 3, 4, 5, 7, 9, 10, 12, 17, 25, 40]:
            cases[cid] = [float(i) for i in range(n)]; cid += 1       # distinct
            cases[cid] = [float(i // 3) for i in range(n)]; cid += 1  # ties
            cases[cid] = [7.0] * n; cid += 1                          # constant
        rows = [(k, v) for k, vals in cases.items() for v in vals]
        got = {
            r.cid: list(r.qs)
            for r in spark.createDataFrame(rows, "cid int, v double")
            .groupBy("cid")
            .agg(F.percentile_approx("v", _CAL_DECILES, 50_000).alias("qs"))
            .collect()
        }
        con = duckdb.connect()
        # Bind values as parameters: DuckDB binds Python floats as DOUBLE
        # directly. Interpolating float reprs as SQL literals is WRONG —
        # a 17-significant-digit decimal literal is typed DECIMAL and the
        # DOUBLE cast can land 1 ulp off.
        decile_sql = ", ".join(
            f"quantile_disc(v, {d!r})" for d in _CAL_DECILES
        )
        for k, vals in cases.items():
            want = list(
                con.execute(
                    f"SELECT {decile_sql} FROM (SELECT unnest(?) AS v) t",
                    [vals],
                ).fetchone()
            )
            assert got[k] == want, (k, len(vals), got[k], want)


class TestGKExactRegimeBoundary:
    """Adversarial licensing tests for every percentile_approx oracle:
    the hash oracles are licensed by the GK sketch's EXACT regime
    (per-group/frame rows <= accuracy). These generative tests prove
    (a) inside the regime the sketch equals DuckDB's quantile_disc on
    arbitrary generated data, (b) past the regime it really does
    deviate — the bound is load-bearing, not folklore — and (c) the
    driver's actual scale factors sit inside the regime with headroom,
    so parity cannot silently break at a SF bump (the failure mode that
    threatens rolling_median_7d and friends)."""

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_subnormal=False,
            ),
            min_size=1,
            max_size=120,
        )
    )
    def test_within_regime_matches_quantile_disc(self, spark, vals):
        import duckdb

        from spark_streaming_invoice_anomaly_detection_spark.plans.relational import (
            _GK_ACCURACY,
        )

        # accuracy exactly as the production queries set it: the license
        # is n << accuracy (rank error n/accuracy < 1), NOT n == accuracy
        # — at accuracy == n the sketch may already be off by one rank
        # (verified: [0.0, -1.0, 0.0] at accuracy 3 returns -1.0 for the
        # median where quantile_disc returns 0.0).
        got = (
            spark.createDataFrame([(v,) for v in vals], "v double")
            .agg(
                F.percentile_approx(
                    "v", [0.25, 0.5, 0.75], _GK_ACCURACY
                ).alias("qs")
            )
            .first()["qs"]
        )
        # Parameter-bound, NOT interpolated literals: DuckDB types a
        # 17-significant-digit VALUES literal as DECIMAL and its DOUBLE
        # cast can be 1 ulp off the exact double Spark received (the
        # red test: vals=[1.9999999998835847]). Binding the list
        # hands DuckDB the bit-exact doubles.
        want = list(
            duckdb.connect()
            .execute(
                "SELECT quantile_disc(v, 0.25), quantile_disc(v, 0.5), "
                "quantile_disc(v, 0.75) FROM "
                "(SELECT unnest(?) AS v) t",
                [vals],
            )
            .fetchone()
        )
        assert got == want, (len(vals), got, want)

    def test_past_regime_deviates_somewhere(self, spark):
        """With accuracy far below n, at least one quartile must differ
        from quantile_disc across a battery of seeded heavy-tailed groups
        — demonstrating the exact-regime precondition is what protects
        oracle parity (if this ever passes exactly, the license text is
        stale and the precondition test below is dead weight)."""
        import duckdb

        import numpy as np

        rng = np.random.default_rng(7)
        mismatch = 0
        for _case in range(8):
            vals = np.round(rng.lognormal(0, 3, size=4000), 3).tolist()
            got = (
                spark.createDataFrame([(v,) for v in vals], "v double")
                .agg(
                    F.percentile_approx(
                        "v", [0.25, 0.5, 0.75], 16
                    ).alias("qs")
                )
                .first()["qs"]
            )
            want = list(
                duckdb.connect()
                .execute(
                    "SELECT quantile_disc(v, 0.25), quantile_disc(v, 0.5),"
                    " quantile_disc(v, 0.75) FROM "
                    "(SELECT unnest(?) AS v) t",
                    [vals],
                )
                .fetchone()
            )
            mismatch += got != want
        assert mismatch > 0, (
            "GK at accuracy 16 matched quantile_disc on every 4000-row "
            "heavy-tailed group — exact-regime licensing may be obsolete"
        )


class TestGKPreconditionAtSF:
    """The row-count-vs-accuracy precondition, asserted on the ACTIVE
    test scale factor (sf0.001 default; the once-per-round
    SPARK_GRAFT_TEST_SF_DIR=sf0.1 sweep re-checks it at the largest
    driver SF). 2x headroom so a generator tweak trips this test before
    it trips the regime boundary itself."""

    def test_group_and_frame_sizes_within_exact_regime(self, spark, sf_dir):
        from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
            _CAL_ACCURACY,
        )
        from spark_streaming_invoice_anomaly_detection_spark.plans.relational import (
            _GK_ACCURACY,
        )
        from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
            load_table,
        )

        ev = load_table(spark, "events", sf_dir)
        docs = load_table(spark, "documents", sf_dir)

        # Per-event-type groups: approx_quantiles_by_type,
        # interarrival_quartiles, winsorized_mean_by_type.
        max_type = (
            ev.groupBy("event_type").count().agg(F.max("count")).first()[0]
        )
        assert max_type <= _GK_ACCURACY // 2, (max_type, _GK_ACCURACY)

        # 7-day RANGE frames per type: rolling_median_7d. The largest
        # frame is bounded by the largest (type, trailing-7-day) count.
        from pyspark.sql import Window

        day = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
        w = (
            Window.partitionBy("event_type")
            .orderBy("epoch_day")
            .rangeBetween(-6, 0)
        )
        max_frame = (
            ev.filter(F.col("value").isNotNull())
            .select("event_type", day.alias("epoch_day"))
            .select(F.count(F.lit(1)).over(w).alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
        assert max_frame <= _GK_ACCURACY // 2, (max_frame, _GK_ACCURACY)

        # Per-source documents: curriculum_quota_sample, arrow_text_stats.
        max_source = (
            docs.groupBy("source").count().agg(F.max("count")).first()[0]
        )
        assert max_source <= _GK_ACCURACY // 2, (max_source, _GK_ACCURACY)

        # Global corpus sketch: quality_calibration_map's grand-total grid.
        n_docs = docs.count()
        assert n_docs <= _CAL_ACCURACY // 2, (n_docs, _CAL_ACCURACY)


# ---------------------------------------------------------------------------
# Adaptive LSH sub-blocking ladder: the modulus actually bounds expected
# block size, and the Spark expression matches a pure-Python reference
# ---------------------------------------------------------------------------


def _ladder_py(n: int, cap: int, budget: int) -> int:
    """Reference: 2**p for the smallest p in [0, budget] with
    n <= cap * 2**p (budget if none)."""
    for p in range(budget + 1):
        if n <= cap * (1 << p):
            return 1 << p
    return 1 << budget


class TestAdaptiveBucketModulus:
    @given(
        st.integers(min_value=0, max_value=10_000_000),
        st.integers(min_value=1, max_value=100_000),
        st.integers(min_value=1, max_value=12),
    )
    @settings(max_examples=200, deadline=None)
    def test_matches_python_reference(self, spark, n, cap, budget):
        from spark_streaming_invoice_anomaly_detection_spark.operators.similarity import (
            adaptive_bucket_modulus,
        )

        got = (
            spark.range(1)
            .select(
                adaptive_bucket_modulus(
                    F.lit(n).cast("long"), cap, budget
                ).alias("m")
            )
            .first()[0]
        )
        assert got == _ladder_py(n, cap, budget), (n, cap, budget)

    def test_bounds_expected_block_size(self):
        # the invariant the ladder exists for: n / (base_blocks * mod)
        # <= target for every n below the budget's ceiling
        target, budget, base_blocks = 125, 8, 10
        cap = base_blocks * target
        for n in [0, 1, cap, cap + 1, 10 * cap, cap << budget]:
            mod = _ladder_py(n, cap, budget)
            assert n <= cap * mod or mod == 1 << budget
            if n <= cap << budget:
                assert n / (base_blocks * mod) <= target

    def test_registered_ladders_at_driver_sfs(self):
        # the p values the registered queries see at the external
        # correctness SFs — pinned so a constant change shows up here,
        # not in a driver hash-fail
        from spark_streaming_invoice_anomaly_detection_spark.plans.extensions import (
            _EMB_PMAX,
            _EMB_TARGET_BLOCK,
            _HN_PMAX,
            _HN_TARGET_BLOCK,
            _SEMDEDUP_PMAX,
            _SEMDEDUP_TARGET_BLOCK,
            _IVF_CELLS,
        )

        # semantic census: augmented corpus, 8 cells
        cap = _IVF_CELLS * _SEMDEDUP_TARGET_BLOCK
        assert _ladder_py(1000, cap, _SEMDEDUP_PMAX) == 1  # sf0.001/0.01
        assert _ladder_py(4000, cap, _SEMDEDUP_PMAX) == 4  # sf0.1
        # embedding near-dups: augmented corpus, 10 labels
        cap = 10 * _EMB_TARGET_BLOCK
        assert _ladder_py(1000, cap, _EMB_PMAX) == 4
        assert _ladder_py(4000, cap, _EMB_PMAX) == 16  # fixed-scheme twin
        # hard negatives: raw corpus, no base blocks
        assert _ladder_py(500, _HN_TARGET_BLOCK, _HN_PMAX) == 4
        assert _ladder_py(2000, _HN_TARGET_BLOCK, _HN_PMAX) == 16


class TestFixedPointOverflowHorizons:
    """Every fixed-point query documents its int64
    overflow horizon; this pins the SHARED structural claim the notes
    rely on — an fp_log2 factor is < 256*64, so products with per-doc
    counts stay in int64 far past any physical document, while naive
    count-by-count forms (which the queries avoid) blow up at corpus
    scale.
    """

    # the documented per-(doc, term) horizon for tfidf_doc_keywords'
    # tf * (L(N) - L(df)) product; dsir (2.8e14 grams/doc) and
    # token_entropy (6e14 tokens/doc) share the same 256*log2 factor
    # structure with one extra factor of 2 or not.
    TFIDF_TF_HORIZON = 5.69e14

    @given(
        n=st.integers(min_value=1, max_value=2**62),
        df_frac=st.floats(min_value=0.0, max_value=1.0),
    )
    @settings(max_examples=300, deadline=None)
    def test_fp_log2_factor_bounded_and_horizon_safe(self, n, df_frac):
        from spark_streaming_invoice_anomaly_detection_spark.functions.fplog2 import (
            fp_log2_py,
        )

        df = max(1, min(n, int(n * df_frac)))
        idf = fp_log2_py(n) - fp_log2_py(df)
        # the factor every bound note cites: < 256*63 for any int64 arg
        assert 0 <= idf < 256 * 63
        # at the documented horizon the worst-case product is still int64
        assert int(self.TFIDF_TF_HORIZON) * (256 * 63 - 1) < 2**63
        # ...and the horizon is tight to within 2x (the note is not a
        # vacuous underestimate)
        assert int(2 * self.TFIDF_TF_HORIZON) * (256 * 63) > 2**63

    def test_entropy_identity_exact_at_horizon_scale(self):
        """h_fp = N*L(N) - sum(c*L(c)) evaluated with exact Python ints
        at a 1e12-token synthetic histogram: the int64 range claimed by
        the docstring holds and the identity is non-negative (Jensen),
        i.e. the fixed-point form cannot wrap into a negative entropy.
        """
        from spark_streaming_invoice_anomaly_detection_spark.functions.fplog2 import (
            fp_log2_py,
        )

        # heavy-head histogram totalling ~1e12 tokens
        counts = [10**12 - 5 * 10**9] + [10**9] * 5
        n = sum(counts)
        h_fp = n * fp_log2_py(n) - sum(c * fp_log2_py(c) for c in counts)
        assert 0 <= h_fp < 2**63
