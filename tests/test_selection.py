"""Semantic tests for the data-selection & geometry queries (plans/selection).

Oracle equality is covered by the parametrized test_queries_oracle sweep;
these pin the MEANING: fp_log2 accuracy bounds, DSIR separating target from
non-target, entropy's information-theoretic invariants, JL concentration.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from spark_streaming_invoice_anomaly_detection_spark.functions.fplog2 import (
    LUT256,
    fp_log2_py,
)
from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
    REGISTRY,
    queries,
)

queries()  # force registry load


# ---------------------------------------------------------------------------
# fp_log2 primitive
# ---------------------------------------------------------------------------


def test_lut_is_monotone_floor_table():
    assert len(LUT256) == 256
    assert LUT256[0] == 0
    assert LUT256 == sorted(LUT256)
    assert all(0 <= v < 256 for v in LUT256)


@given(st.integers(min_value=1, max_value=2**62))
@settings(max_examples=500, deadline=None)
def test_fp_log2_error_bound(n):
    err = fp_log2_py(n) / 256.0 - math.log2(n)
    assert -0.0094 <= err <= 0.0


def test_fp_log2_exact_at_powers_of_two():
    for e in range(0, 62):
        assert fp_log2_py(1 << e) == 256 * e


def test_fp_log2_rejects_nonpositive():
    with pytest.raises(ValueError):
        fp_log2_py(0)


def test_eval_split_prefilter_matches_plain_window_both_branches(spark):
    """The GK-prefiltered two-phase plan must be
    byte-identical to the plain single-window plan. Checked against an
    independent PYTHON twin (same h60 salt, same Hamilton quotas) on a
    skewed synthetic corpus, under three prefilter settings:

    - the production fraction/accuracy (fast path for large sources),
    - a deliberately-undershooting fraction (survivor counts miss every
      quota -> ALL sources take the per-source full-rank fallback),
    - an over-generous fraction (everything survives the prefilter —
      degenerates to the plain window).

    All three must agree with the Python twin exactly."""
    from spark_streaming_invoice_anomaly_detection_spark.operators.similarity import (
        _h60_py,
    )
    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        _EVAL_PRE_ACCURACY,
        _EVAL_PRE_FRACTION,
        _QUOTA_DEN,
        _eval_members_prefiltered,
    )

    # skewed corpus: two big sources, one mid, one tiny (tiny sources are
    # where the sketch can legitimately undershoot in production)
    sizes = {"web": 2000, "code": 1100, "books": 150, "wiki": 9}
    rows, did = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((did, src))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string")

    # independent Hamilton quotas in Python
    n_total = sum(sizes.values())
    k = n_total // _QUOTA_DEN
    base = {s: n * k // n_total for s, n in sizes.items()}
    rem = {s: n * k % n_total for s, n in sizes.items()}
    shortfall = k - sum(base.values())
    order = sorted(sizes, key=lambda s: (-rem[s], s))
    quota = {
        s: base[s] + (1 if i < shortfall else 0)
        for i, s in enumerate(order)
    }
    quotas = spark.createDataFrame(
        [(s, q) for s, q in quota.items()], "source string, quota long"
    )

    # independent membership twin: salted-hash rank prefix per source
    by_src: dict = {}
    for d, s in rows:
        by_src.setdefault(s, []).append((_h60_py(f"eval:{d}"), d))
    expected = set()
    for s, keyed in by_src.items():
        for rank, (_h, d) in enumerate(sorted(keyed), start=1):
            if rank <= quota[s]:
                expected.add((s, d, rank))

    for frac, acc in (
        (_EVAL_PRE_FRACTION, _EVAL_PRE_ACCURACY),  # production fast path
        (0.0001, 10_000),                          # force full fallback
        (0.999, 100),                              # degenerate: keep all
    ):
        got = {
            (r.source, r.doc_id, r.rank_in_source)
            for r in _eval_members_prefiltered(
                docs, quotas, frac, acc
            ).collect()
        }
        assert got == expected, f"mismatch at fraction={frac}"

    # the undershooting fraction really does starve the survivor check
    # (guards against the fallback branch silently becoming dead code)
    from pyspark.sql import functions as F

    from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
        h60,
    )

    keyed = docs.withColumn(
        "_rk", h60(F.concat(F.lit("eval:"), F.col("doc_id").cast("string")))
    )
    thr = keyed.groupBy("source").agg(
        F.percentile_approx("_rk", F.lit(0.0001), F.lit(10_000)).alias("t")
    )
    m = {
        r.source: r.m
        for r in keyed.join(thr, "source")
        .filter(F.col("_rk") <= F.col("t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    }
    assert any(m.get(s, 0) < quota[s] for s in sizes if quota[s] > 0), (
        "the 'undershooting' fraction did not actually undershoot — the "
        "fallback branch was not exercised"
    )


def test_repetition_census_prefilter_matches_plain_window_both_branches(
    spark,
):
    """The histogram-prefiltered greedy-prefix census
    must be byte-identical to the plain single-window plan. Checked
    against an independent PYTHON twin (same h60 salt, same
    (rank_key, doc_id) ordering, same running-char-sum cut) on a skewed
    synthetic corpus with per-source char-size spread, under three
    bucket-width settings:

    - the production bits (tight covering edge for small remainders),
    - bits=0 (one bucket — every row survives the cut and the plan IS
      the plain window, the degenerate ceiling),
    - bits=20 (a million buckets — mostly empty at this corpus size,
      the tightest possible edge; exercises edge selection over sparse
      bucket ids).

    All three must agree with the Python twin exactly, and the
    production cut must actually PRUNE (guards against the prefilter
    silently keeping everything)."""
    from spark_streaming_invoice_anomaly_detection_spark.operators.similarity import (
        _h60_py,
    )
    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        _REP_PRE_BITS,
        _repetition_census_prefiltered,
    )

    # skewed corpus: big/mid/tiny sources, doc char sizes varied so the
    # chars-vs-rank sampling noise the boost absorbs is actually present
    sizes = {"web": 1500, "code": 800, "books": 120, "wiki": 7}
    rows, did = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((src, did, 40 + (did * 37) % 400))
            did += 1
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, n_chars long"
    )

    # allocations chosen so remainders span the spectrum: tiny fraction
    # (prefilter shines), ~half, near-full, and exact-zero remainder
    size_chars = {
        s: sum(c for src, _, c in rows if src == s) for s in sizes
    }
    rem_frac = {"web": 0.03, "code": 0.5, "books": 0.97, "wiki": 0.0}
    ua_rows = [
        (
            s,
            size_chars[s],
            2 * size_chars[s] + int(rem_frac[s] * size_chars[s]),
        )
        for s in sizes
    ]
    ua = spark.createDataFrame(
        ua_rows, "source string, size_chars long, alloc_chars long"
    )

    # independent census twin: salted-hash-ordered greedy char prefix
    expected = {}
    for s in sizes:
        keyed = sorted(
            (_h60_py(f"rep:{d}"), d, c) for src, d, c in rows if src == s
        )
        rem = (2 * size_chars[s] + int(rem_frac[s] * size_chars[s])) % (
            size_chars[s]
        )
        cum = n_extra = extra = 0
        for _h, _d, c in keyed:
            cum += c
            if cum <= rem:
                n_extra += 1
                extra += c
        expected[s] = (len(keyed), n_extra, extra)

    for bits in (_REP_PRE_BITS, 0, 20):
        got = {
            r.source: (r.n_docs, r.n_extra_docs, r.extra_chars)
            for r in _repetition_census_prefiltered(
                docs, ua, bits
            ).collect()
        }
        assert got == expected, f"mismatch at bits={bits}"

    # the production cut really does prune: the windowed survivor set
    # for the small-remainder source must be far below its doc count
    # (guards against the prefilter silently keeping everything)
    from pyspark.sql import functions as F

    from spark_streaming_invoice_anomaly_detection_spark.operators.text import (
        h60,
    )

    shift = 60 - _REP_PRE_BITS
    keyed = docs.withColumn(
        "_rk", h60(F.concat(F.lit("rep:"), F.col("doc_id").cast("string")))
    )
    hist = keyed.groupBy(
        "source", F.shiftright("_rk", shift).alias("bk")
    ).agg(F.sum("n_chars").alias("mass"), F.count(F.lit(1)).alias("cnt"))
    rows_h = hist.collect()
    rem_web = (
        2 * size_chars["web"] + int(rem_frac["web"] * size_chars["web"])
    ) % size_chars["web"]
    cum = surv = 0
    for r in sorted(
        (r for r in rows_h if r.source == "web"), key=lambda r: r.bk
    ):
        surv += r.cnt
        cum += r.mass
        if cum >= rem_web:
            break
    assert surv < sizes["web"] // 2, (
        f"production cut kept {surv}/{sizes['web']} web docs for a "
        f"{rem_frac['web']:.0%} remainder — the prefilter is not pruning"
    )


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dsir_rows(spark, sf_dir):
    df = REGISTRY["dsir_importance_weights"].spark(spark, sf_dir)
    return [r.asDict() for r in df.collect()]


def test_dsir_covers_every_nonempty_doc(dsir_rows, spark, sf_dir):
    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    n_docs = load_table(spark, "documents", sf_dir).count()
    assert len(dsir_rows) == n_docs  # word-salad corpus: no empty docs
    assert len({r["doc_id"] for r in dsir_rows}) == len(dsir_rows)


def test_dsir_separates_target_from_raw(dsir_rows):
    """Target-domain (en) docs must average a HIGHER likelihood-ratio
    weight than non-target docs — the property the resampler relies on.
    Per-gram normalization so doc length doesn't confound the comparison."""
    en = [r["w_fp"] / r["n_grams"] for r in dsir_rows if r["lang"] == "en"]
    other = [
        r["w_fp"] / r["n_grams"] for r in dsir_rows if r["lang"] != "en"
    ]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_dsir_selected_flag_matches_weight_sign(dsir_rows):
    for r in dsir_rows:
        assert r["selected"] == (r["w_fp"] > 0)
        assert r["w_bits"] == r["w_fp"] / 256.0


# ---------------------------------------------------------------------------
# Token-entropy census
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def entropy_rows(spark, sf_dir):
    df = REGISTRY["token_entropy_census"].spark(spark, sf_dir)
    return [r.asDict() for r in df.collect()]


def test_entropy_bounds(entropy_rows):
    """0 <= H <= log2(n_distinct) up to the fp_log2 floor error, and
    single-token-type docs (if any) have exactly zero entropy."""
    assert entropy_rows
    for r in entropy_rows:
        assert r["n_distinct_tokens"] <= r["n_tokens"]
        assert r["entropy_bits"] >= -0.01
        assert (
            r["entropy_bits"]
            <= math.log2(r["n_distinct_tokens"]) + 0.01
            if r["n_distinct_tokens"] > 1
            else r["h_fp"] == 0
        )


def test_entropy_matches_direct_computation(spark, sf_dir, entropy_rows):
    """Recompute H for a handful of docs straight from the text via the
    Python fp_log2 reference."""
    from collections import Counter
    import re

    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir).limit(5).collect()
    }
    by_id = {r["doc_id"]: r for r in entropy_rows}
    for doc_id, text in docs.items():
        counts = Counter(re.findall("[A-Za-z0-9]+", text.lower()))
        n = sum(counts.values())
        h_fp = n * fp_log2_py(n) - sum(
            c * fp_log2_py(c) for c in counts.values()
        )
        got = by_id[doc_id]
        assert got["n_tokens"] == n
        assert got["n_distinct_tokens"] == len(counts)
        assert got["h_fp"] == h_fp


# ---------------------------------------------------------------------------
# JL projection distortion
# ---------------------------------------------------------------------------


def test_jl_distortion_concentrates_near_one(spark, sf_dir):
    rows = [
        r.asDict()
        for r in REGISTRY["jl_projection_distortion"]
        .spark(spark, sf_dir)
        .collect()
    ]
    assert rows
    ds = [r["distortion"] for r in rows if r["distortion"] is not None]
    assert len(ds) == len(rows)  # consecutive-id pairs never coincide
    mean = sum(ds) / len(ds)
    # E[distortion] = 1 under the JL lemma; 16 projections at 500+ pairs
    # put the sample mean well inside (0.8, 1.2).
    assert 0.8 < mean < 1.2
    assert all(d >= 0.0 for d in ds)
    for r in rows:
        assert r["vec_id_b"] == r["vec_id_a"] + 1
        assert r["sq_dist"] > 0


# ---------------------------------------------------------------------------
# PSI drift (plans/advanced.py, fp_log2 consumer)
# ---------------------------------------------------------------------------


def test_psi_matches_direct_python_recomputation(spark, sf_dir):
    """Recompute base-2 add-one-smoothed PSI from raw events with the
    Python fp_log2 reference (same binning, same fold order) and against
    the true float PSI within the fp_log2 error envelope."""
    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    rows = [
        r.asDict()
        for r in REGISTRY["value_drift_psi"].spark(spark, sf_dir).collect()
    ]
    assert rows
    by_type = {r["event_type"]: r for r in rows}

    ev = [
        (r["event_type"], r["ts"], r["value"])
        for r in load_table(spark, "events", sf_dir)
        .filter("value IS NOT NULL")
        .select("event_type", "ts", "value")
        .collect()
    ]
    B = 20
    t_us = [int(t.timestamp() * 1_000_000) for _, t, _ in ev]
    t_lo, t_hi = min(t_us), max(t_us)
    v_lo = min(v for _, _, v in ev)
    v_hi = max(v for _, _, v in ev)
    mid = (t_lo + t_hi) / 2
    from collections import defaultdict

    c = defaultdict(lambda: [[0] * B, [0] * B])
    for (et, _, v), tu in zip(ev, t_us):
        h = 1 if tu >= mid else 0
        b = min(B - 1, int(math.floor((v - v_lo) / (v_hi - v_lo) * float(B))))
        c[et][h][b] += 1
    for et, (h0, h1) in c.items():
        n1, n2 = sum(h0), sum(h1)
        n1b, n2b = n1 + B, n2 + B
        num = 0.0
        true_psi = 0.0
        for b in range(B):
            c1p, c2p = h0[b] + 1, h1[b] + 1
            lr = (fp_log2_py(c1p) - fp_log2_py(n1b)) - (
                fp_log2_py(c2p) - fp_log2_py(n2b)
            )
            num = num + (float(c1p) * float(n2b) - float(c2p) * float(n1b)) * float(lr)
            p, q = c1p / n1b, c2p / n2b
            true_psi += (p - q) * math.log2(p / q)
        psi = num / (256.0 * float(n1b) * float(n2b))
        got = by_type[et]
        assert got["n1"] == n1 and got["n2"] == n2
        assert got["psi_bits"] == psi  # bit-identical fold reproduction
        # fp_log2 floor error: each log within 0.0094 bits, masses sum to ~2
        assert abs(psi - true_psi) < 0.05
        assert psi >= -0.05


# ---------------------------------------------------------------------------
# Source PMI keywords
# ---------------------------------------------------------------------------


def test_pmi_keywords_semantics(spark, sf_dir):
    """Ranks are contiguous per source, support filter holds, and the
    fixed-point PMI tracks the true float PMI within the fp_log2 error
    envelope (4 logs x 0.0094 bits)."""
    from collections import Counter
    import re

    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    rows = [
        r.asDict()
        for r in REGISTRY["source_pmi_keywords"].spark(spark, sf_dir).collect()
    ]
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        assert all(x["c_st"] >= 5 for x in rs)

    docs = load_table(spark, "documents", sf_dir).select("source", "text").collect()
    st, s_tot, t_tot = Counter(), Counter(), Counter()
    for r in docs:
        for tok in re.findall("[A-Za-z0-9]+", r["text"].lower()):
            st[(r["source"], tok)] += 1
            s_tot[r["source"]] += 1
            t_tot[tok] += 1
    n_all = sum(st.values())
    for r in rows:
        c, src, tok = r["c_st"], r["source"], r["tok"]
        assert st[(src, tok)] == c
        true_pmi = math.log2((c / n_all) / ((t_tot[tok] / n_all) * (s_tot[src] / n_all)))
        assert abs(r["pmi_bits"] - true_pmi) < 0.04
        assert r["pmi_bits"] == r["pmi_fp"] / 256.0


# ---------------------------------------------------------------------------
# EWMA level + weekly seasonality (plans/advanced.py time-series family)
# ---------------------------------------------------------------------------


def test_ewma_matches_python_fold(spark, sf_dir):
    from collections import defaultdict

    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r["event_type"]: r.asDict()
        for r in REGISTRY["ewma_daily_level"].spark(spark, sf_dir).collect()
    }
    assert rows
    ev = (
        load_table(spark, "events", sf_dir)
        .filter("value IS NOT NULL")
        .selectExpr(
            "event_type",
            "CAST(ts AS DATE) AS day",
            "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS ym",
        )
        .collect()
    )
    daily = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r["event_type"]][r["day"]] += r["ym"]
    alpha = 77.0 / 256.0
    for et, by_day in daily.items():
        xs = [by_day[d] / 1_000_000.0 for d in sorted(by_day)]
        y = xs[0]
        for x in xs[1:]:
            y = alpha * x + (1.0 - alpha) * y
        got = rows[et]
        assert got["n_days"] == len(xs)
        assert got["ewma_level"] == y  # bit-identical fold
        assert got["last_day"] == xs[-1]
        assert got["alarm"] == (xs[-1] / y >= 1.5)


def test_weekly_seasonality_weighted_mean_is_one(spark, sf_dir):
    """sum(n_days_d * index_d) / n_days_all == 1 by construction."""
    rows = [
        r.asDict()
        for r in REGISTRY["weekly_seasonality_index"]
        .spark(spark, sf_dir)
        .collect()
    ]
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        assert len(rs) <= 7
        assert all(1 <= r["iso_dow"] <= 7 for r in rs)
        n_all = sum(r["n_days"] for r in rs)
        w_mean = (
            sum(r["n_days"] * r["seasonality_index"] for r in rs) / n_all
        )
        assert abs(w_mean - 1.0) < 1e-9
        assert all(r["seasonality_index"] > 0 for r in rs)


# ---------------------------------------------------------------------------
# Source KL divergence + randomized cross-engine fp_log2 pin
# ---------------------------------------------------------------------------


def test_source_kl_matches_python_recomputation(spark, sf_dir):
    from collections import Counter, defaultdict
    import re

    from spark_streaming_invoice_anomaly_detection_spark.operators.similarity import (
        _h60_py,
    )
    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r["source"]: r.asDict()
        for r in REGISTRY["source_token_kl"].spark(spark, sf_dir).collect()
    }
    assert rows

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter("text IS NOT NULL AND source IS NOT NULL")
        .select("source", "text")
        .collect()
    )
    B = 64
    sb, corpus = defaultdict(Counter), Counter()
    for r in docs:
        for tok in re.findall("[A-Za-z0-9]+", r["text"].lower()):
            b = _h60_py(tok) % B
            sb[r["source"]][b] += 1
            corpus[b] += 1
    n_all = sum(corpus.values())
    for src, counts in sb.items():
        n_s = sum(counts.values())
        nsb, nab = n_s + B, n_all + B
        num = 0.0
        for b in range(B):
            sb1, cb1 = counts[b] + 1, corpus[b] + 1
            lr = (fp_log2_py(sb1) - fp_log2_py(nsb)) - (
                fp_log2_py(cb1) - fp_log2_py(nab)
            )
            num = num + float(sb1) * float(lr)
        kl = num / (256.0 * float(nsb))
        got = rows[src]
        assert got["n_tokens"] == n_s
        assert got["kl_bits"] == kl  # bit-identical fold
        # KL >= 0 up to smoothing + fp floor error
        assert kl > -0.06


@given(st.integers(min_value=1, max_value=2**62))
@settings(max_examples=200, deadline=None)
def test_fp_log2_python_matches_duckdb(n):
    """The Python reference and the generated DuckDB expression agree on
    random int64 inputs (the Spark side is pinned transitively by every
    oracle-checked fp_log2 query)."""
    import duckdb

    from spark_streaming_invoice_anomaly_detection_spark.functions.fplog2 import (
        fp_log2_sql,
    )

    got = duckdb.sql(
        f"SELECT {fp_log2_sql('x', 'duckdb')} AS v "
        f"FROM (SELECT CAST({n} AS BIGINT) AS x)"
    ).fetchone()[0]
    assert got == fp_log2_py(n)


def test_transition_matrix_rows_sum_to_one(spark, sf_dir):
    rows = [
        r.asDict()
        for r in REGISTRY["event_transition_matrix"]
        .spark(spark, sf_dir)
        .collect()
    ]
    assert rows
    from collections import defaultdict

    by_prev = defaultdict(list)
    for r in rows:
        assert r["n"] >= 1 and 0.0 < r["p"] <= 1.0
        by_prev[r["prev_type"]].append(r["p"])
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-9


def test_rfm_segments_cover_all_customers(spark, sf_dir):
    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    rows = [
        r.asDict()
        for r in REGISTRY["rfm_segments"].spark(spark, sf_dir).collect()
    ]
    assert rows
    n_cust = (
        load_table(spark, "orders", sf_dir)
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["r_q"] <= 4 and 1 <= r["f_q"] <= 4 and 1 <= r["m_q"] <= 4
        assert r["avg_recency_days"] >= 0 and r["total_monetary"] > 0
    # quartiles must actually split: more than one distinct tile per axis
    assert len({r["r_q"] for r in rows}) > 1
    assert len({r["m_q"] for r in rows}) > 1


def test_data_quality_report_all_checks_present(spark, sf_dir):
    rows = [
        r.asDict()
        for r in REGISTRY["data_quality_report"].spark(spark, sf_dir).collect()
    ]
    assert len(rows) == 9
    by_key = {(r["table_name"], r["check_name"]): r for r in rows}
    # the generated testdata honors its own contracts: pk/fk checks pass
    for key in [
        ("orders", "pk_unique"),
        ("customer", "pk_unique"),
        ("part", "pk_unique"),
        ("orders", "fk_customer_orphans"),
        ("lineitem", "fk_orders_orphans"),
    ]:
        assert by_key[key]["pass"] is True, key
    for r in rows:
        assert r["n_rows"] > 0
        assert 0 <= r["n_violations"] <= r["n_rows"]
        assert r["pass"] == (r["n_violations"] == 0)


def test_leakage_safe_splits_invariants(spark, sf_dir):
    rows = [
        r.asDict()
        for r in REGISTRY["leakage_safe_splits"].spark(spark, sf_dir).collect()
    ]
    assert rows and len(rows) <= 3
    for r in rows:
        assert r["groups_split_across"] == 0  # the guard binds
        # planted verbatim copies: every group has exactly 2 members
        assert r["n_docs"] == 2 * r["n_groups"]
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    total = sum(r["n_docs"] for r in rows)
    train = next(r["n_docs"] for r in rows if r["split"] == "train")
    assert train / total > 0.7  # 90% target, small-sample slack


def test_basket_lift_semantics(spark, sf_dir):
    """Top-k is exactly k (or all qualifying pairs), support holds, and
    the fp log-lift tracks the true float lift within the error envelope."""
    rows = [
        r.asDict()
        for r in REGISTRY["basket_lift_pairs"].spark(spark, sf_dir).collect()
    ]
    assert 0 < len(rows) <= 20
    lifts = [r["lift_fp"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["pa"] < r["pb"]
        assert r["n_ab"] >= 2
        assert r["n_ab"] <= min(r["n_a"], r["n_b"])
        true_lift = math.log2(
            (r["n_ab"] * r["n_orders"]) / (r["n_a"] * r["n_b"])
        )
        assert abs(r["lift_bits"] - true_lift) < 0.04


def test_bootstrap_ci_exact_python_reproduction(spark, sf_dir):
    """Recompute all 100 deterministic Poisson resamples in Python and
    pin the CI order statistics bit-exactly; plus the bracket sanity."""
    import hashlib

    from spark_streaming_invoice_anomaly_detection_spark.plans.advanced import (
        _BOOT_HI,
        _BOOT_LO,
        _POIS_CDF,
    )
    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    row = REGISTRY["bootstrap_mean_ci"].spark(spark, sf_dir).first()
    assert row["n_boot"] == 100
    assert row["ci_lo"] <= row["mean_value"] <= row["ci_hi"]
    assert row["ci_lo"] < row["ci_hi"]
    assert (row["ci_hi"] - row["ci_lo"]) < row["mean_value"]

    orders = [
        (r["o_orderkey"], int(r["c"]))
        for r in load_table(spark, "orders", sf_dir)
        .selectExpr(
            "o_orderkey",
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c",
        )
        .collect()
    ]

    def weight(key, b):
        h = int(hashlib.md5(f"{key}:{b}".encode()).hexdigest()[:15], 16)
        u = float(h) / float(1 << 60)
        for k, t in enumerate(_POIS_CDF):
            if u < t:
                return k
        return len(_POIS_CDF)

    means = []
    for b in range(100):
        wc = ws = 0
        for key, c in orders:
            w = weight(key, b)
            wc += w * c
            ws += w
        means.append(float(wc) / float(ws))
    means.sort()
    # element_at is 1-indexed -> python offset -1
    assert row["ci_lo"] == means[_BOOT_LO - 1] / 100.0
    assert row["ci_hi"] == means[_BOOT_HI - 1] / 100.0
    assert row["n_orders"] == len(orders)


def test_interarrival_quartiles_semantics(spark, sf_dir):
    rows = [
        r.asDict()
        for r in REGISTRY["interarrival_quartiles"].spark(spark, sf_dir).collect()
    ]
    assert rows
    for r in rows:
        assert r["n_gaps"] > 0
        assert 0 <= r["p25_s"] <= r["p50_s"] <= r["p75_s"]


def test_rolling_median_semantics(spark, sf_dir):
    """One row per (type, day); window counts grow then plateau; the
    median recomputes exactly in Python for a handful of frames."""
    from collections import defaultdict

    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    rows = [
        r.asDict()
        for r in REGISTRY["rolling_median_7d"].spark(spark, sf_dir).collect()
    ]
    assert rows
    keys = [(r["event_type"], r["epoch_day"]) for r in rows]
    assert len(keys) == len(set(keys))

    ev = defaultdict(list)
    for r in (
        load_table(spark, "events", sf_dir)
        .filter("value IS NOT NULL")
        .selectExpr(
            "event_type",
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            " AS d",
            "value",
        )
        .collect()
    ):
        ev[r["event_type"]].append((r["d"], r["value"]))
    by_key = {(r["event_type"], r["epoch_day"]): r for r in rows}
    import statistics

    checked = 0
    for (et, day), r in sorted(by_key.items())[:10]:
        frame = [v for d, v in ev[et] if day - 6 <= d <= day]
        assert r["n_window"] == len(frame)
        # quantile_disc: the lower median element, not the interpolated mid
        frame.sort()
        assert r["p50_value"] == frame[(len(frame) - 1) // 2]
        checked += 1
    assert checked > 0


def test_winsorized_mean_invariants(spark, sf_dir):
    rows = [
        r.asDict()
        for r in REGISTRY["winsorized_mean_by_type"].spark(spark, sf_dir).collect()
    ]
    assert rows
    for r in rows:
        assert r["n"] > 0
        # clipping can only pull the mean toward the body
        assert 0.0 <= r["clipped_frac"] <= 0.15  # ~10% tails by design
        assert r["clipped_frac"] > 0  # the cuts actually bind


# ---------------------------------------------------------------------------
# UniMax epoch-capped waterfill
# ---------------------------------------------------------------------------


def _unimax_reference(sizes: dict[str, int], epoch_cap: int, num: int,
                      den: int) -> dict[str, int]:
    """The paper's sequential allocation (ascending size, each source gets
    min(cap, remaining // k)) — the independent twin the closed-form
    window query must reproduce exactly."""
    budget = sum(sizes.values()) * num // den
    remaining = budget
    alloc: dict[str, int] = {}
    order = sorted(sizes, key=lambda s: (sizes[s], s))
    for i, src in enumerate(order):
        k = len(order) - i
        alloc[src] = min(sizes[src] * epoch_cap, remaining // k)
        remaining -= alloc[src]
    return alloc


def _run_unimax(spark, rows):
    """Run the registered builder against a planted documents frame by
    monkey-free substitution: rebuild the same plan on a temp view via
    the query function's own module-level constants."""
    from spark_streaming_invoice_anomaly_detection_spark.plans import (
        selection as S,
    )

    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    import tempfile

    d = tempfile.mkdtemp(prefix="unimax_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = S.q_unimax_allocation(spark, d)
    return {r.source: r for r in out.collect()}


def test_unimax_matches_sequential_reference_on_skewed_corpus(spark):
    """A planted heavy-tail corpus where sf0.1 can't go (its sources are
    near-uniform, nothing saturates there): tiny sources MUST saturate at
    exactly epoch_cap repeats, big ones sit at one common level, and
    every allocation equals the paper's sequential algorithm (exactly,
    on THIS corpus — the flooring remainder happens to be absorbed by
    the caps here; the general <=1-char contract is the hypothesis
    property below)."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        _UNIMAX_BUDGET_DEN,
        _UNIMAX_BUDGET_NUM,
        _UNIMAX_EPOCH_CAP,
    )

    sizes = {"tiny": 50, "small": 200, "mid": 3_000, "big": 40_000,
             "huge": 400_000}
    rows = [(i, src, n) for i, (src, n) in enumerate(sizes.items())]
    got = _run_unimax(spark, rows)
    want = _unimax_reference(
        sizes, _UNIMAX_EPOCH_CAP, _UNIMAX_BUDGET_NUM, _UNIMAX_BUDGET_DEN
    )
    assert {s: r.alloc_chars for s, r in got.items()} == want
    assert got["tiny"].saturated and got["small"].saturated
    assert not got["huge"].saturated
    assert got["tiny"].epochs == float(_UNIMAX_EPOCH_CAP)
    # unsaturated sources all sit at the same waterfill level
    levels = {r.alloc_chars for r in got.values() if not r.saturated}
    assert len(levels) == 1
    budget = sum(sizes.values()) * _UNIMAX_BUDGET_NUM // _UNIMAX_BUDGET_DEN
    spent = sum(r.alloc_chars for r in got.values())
    n_unsat = sum(1 for r in got.values() if not r.saturated)
    assert budget - n_unsat < spent <= budget  # only flooring is unspent


def test_unimax_no_saturation_splits_budget_evenly(spark):
    """Uniform masses below the cap: nobody saturates and the level is
    budget // n (the sf0.1 regime, pinned here so both branches stay
    covered even where the real corpus only exercises one)."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        _UNIMAX_BUDGET_DEN,
        _UNIMAX_BUDGET_NUM,
    )

    sizes = {f"s{i}": 1_000 for i in range(8)}
    rows = [(i, src, n) for i, (src, n) in enumerate(sizes.items())]
    got = _run_unimax(spark, rows)
    assert not any(r.saturated for r in got.values())
    budget = 8_000 * _UNIMAX_BUDGET_NUM // _UNIMAX_BUDGET_DEN
    assert {r.alloc_chars for r in got.values()} == {budget // 8}


@settings(max_examples=300, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 10_000), min_size=1, max_size=12),
    cap=st.integers(1, 5),
    num=st.integers(1, 12),
    den=st.integers(1, 12),
)
@example(sizes=[1, 1], cap=1, num=1, den=2)
def test_unimax_closed_form_tracks_sequential_within_flooring(
    sizes, cap, num, den
):
    """The window query's closed form vs the paper's sequential scan,
    for ARBITRARY masses, caps and budget fractions. They are NOT
    always identical under integer arithmetic (hypothesis found
    sizes=[1,1], cap=1, budget=1: sequential hands the flooring
    remainder to later sources, the closed form leaves it unspent), so
    the pinned contract is the sharp one: the saturated prefixes AGREE
    exactly, saturated allocations are equal, and every unsaturated
    source differs by at most the 1-char flooring remainder (closed <=
    sequential) — immaterial at corpus scale, and the closed form is
    the order-free definition both engines hash-match on.

    In that same example the sequential scan's second source lands
    exactly ON its cap (0 + inherited remainder 1 == cap 1). That is a
    tie reached after an unsaturated source, not a binding cap: once
    one source is below its cap, every later sequential share is at
    most that level + 1 <= the later (larger) cap. So sequential
    saturation is the prefix of sources whose allocation hit the cap,
    and the closed-form level is strictly below every unsaturated cap."""
    named = {f"s{i:02d}": v for i, v in enumerate(sizes)}
    budget = sum(named.values()) * num // den
    # sequential reference (ascending size, name-tiebreak)
    remaining, seq = budget, {}
    order = sorted(named, key=lambda s: (named[s], s))
    for i, src in enumerate(order):
        k = len(order) - i
        seq[src] = min(named[src] * cap, remaining // k)
        remaining -= seq[src]
    # closed form, exactly as the Spark/SQL query computes it
    n = len(order)
    caps = [named[s] * cap for s in order]
    cum_prev, sat_sum, j = 0, 0, 0
    saturated = []
    for i, c in enumerate(caps, start=1):
        is_sat = c * (n - i + 1) + cum_prev <= budget
        saturated.append(is_sat)
        if is_sat:
            sat_sum += c
            j += 1
        cum_prev += c
    level = (budget - sat_sum) // (n - j) if j < n else None
    closed = {
        s: (caps[i] if saturated[i] else level)
        for i, s in enumerate(order)
    }
    # saturation is a prefix (the monotonicity the one-pass window needs)
    assert saturated == sorted(saturated, reverse=True)
    # sequential saturation: the prefix of sources whose allocation hit
    # the cap (a later source landing on its cap is the flooring tie)
    seq_saturated, in_prefix = [], True
    for i, s in enumerate(order):
        in_prefix = in_prefix and seq[s] == caps[i]
        seq_saturated.append(in_prefix)
    # closed-form saturation == sequential saturation
    assert saturated == seq_saturated
    for i, s in enumerate(order):
        if saturated[i]:
            assert closed[s] == seq[s] == caps[i]
        else:
            assert closed[s] < caps[i]
            assert closed[s] <= seq[s] <= closed[s] + 1
    assert 0 <= sum(seq.values()) - sum(closed.values()) < max(n, 1)


# ---------------------------------------------------------------------------
# Largest-remainder apportionment
# ---------------------------------------------------------------------------


def test_apportionment_invariants_on_real_corpus(spark, sf_dir):
    """Hamilton's two defining properties, on the shipped corpus: quotas
    sum EXACTLY to K = N div 50, and every quota is within 1 doc of the
    exact proportional share (floor or ceil of K*n_s/N)."""
    from fractions import Fraction

    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        _QUOTA_DEN,
        q_eval_quota_apportionment,
    )

    rows = q_eval_quota_apportionment(spark, sf_dir).collect()
    n = sum(r.n_docs for r in rows)
    k = n // _QUOTA_DEN
    assert sum(r.quota for r in rows) == k
    for r in rows:
        share = Fraction(k * r.n_docs, n)
        assert share.__floor__() <= r.quota <= share.__ceil__()
        assert r.quota == r.base_quota + r.bonus
        assert r.bonus in (0, 1)
    # bonuses go to the strictly largest remainders (source tiebreak)
    ranked = sorted(rows, key=lambda r: (-r.remainder, r.source))
    shortfall = k - sum(r.base_quota for r in rows)
    assert [r.bonus for r in ranked] == [1] * shortfall + [0] * (
        len(rows) - shortfall
    )
    # every bonus landed on a nonzero remainder (the docstring's lemma)
    assert all(r.remainder > 0 for r in ranked[:shortfall])


def test_source_length_mad_matches_numpy_reference(spark, sf_dir):
    """Median/MAD vs a straight numpy recomputation (same interpolated
    median definition), bitwise for the medians."""
    import numpy as np

    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        q_source_length_mad,
    )
    from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import (
        load_table,
    )

    raw = (
        load_table(spark, "documents", sf_dir)
        .select("source", "n_chars")
        .collect()
    )
    by_src: dict = {}
    for r in raw:
        by_src.setdefault(r.source, []).append(r.n_chars)
    got = {r.source: r for r in q_source_length_mad(spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    for src, vals in by_src.items():
        a = np.asarray(vals, dtype=np.float64)
        med = float(np.median(a))
        mad = float(np.median(np.abs(a - med)))
        assert got[src].n_docs == len(vals)
        assert got[src].median_chars == med
        assert got[src].mad_chars == mad
        if med > 0:
            assert got[src].dispersion == mad / med


@settings(max_examples=300, deadline=None)
@given(
    counts=st.lists(st.integers(1, 100_000), min_size=1, max_size=20),
    den=st.integers(2, 500),
)
def test_apportionment_math_properties(counts, den):
    """Hamilton apportionment in pure Python over arbitrary counts:
    quotas sum exactly to K, each quota is floor-or-ceil of the exact
    share, and bonuses are exactly the largest-remainder prefix —
    the math the Spark/SQL window implements."""
    n = sum(counts)
    k = n // den
    base = [c * k // n for c in counts]
    rem = [c * k % n for c in counts]
    shortfall = k - sum(base)
    order = sorted(range(len(counts)), key=lambda i: (-rem[i], i))
    bonus = [0] * len(counts)
    for i in order[:shortfall]:
        bonus[i] = 1
    quota = [b + x for b, x in zip(base, bonus)]
    assert sum(quota) == k
    assert 0 <= shortfall < len(counts) or (shortfall == 0)
    for i, c in enumerate(counts):
        lo = c * k // n
        hi = lo + (1 if c * k % n else 0)
        assert lo <= quota[i] <= hi
    # every bonus landed on a nonzero remainder
    assert all(rem[i] > 0 for i in order[:shortfall])


def test_eval_split_members_compose_quotas_exactly(spark, sf_dir):
    """The materialized split's per-source counts ARE the quotas, and
    membership is the deterministic hash-rank prefix (stable under
    re-execution)."""
    from spark_streaming_invoice_anomaly_detection_spark.plans.selection import (
        q_eval_quota_apportionment,
        q_eval_split_members,
    )

    quotas = {
        r.source: r.quota
        for r in q_eval_quota_apportionment(spark, sf_dir).collect()
    }
    rows = q_eval_split_members(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.source, set()).add(r.doc_id)
    assert {s: len(v) for s, v in got.items()} == {
        s: q for s, q in quotas.items() if q > 0
    }
    again = q_eval_split_members(spark, sf_dir).collect()
    assert {(r.source, r.doc_id) for r in again} == {
        (r.source, r.doc_id) for r in rows
    }
    # ranks are a contiguous 1..quota prefix per source
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.rank_in_source)
    for s, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, quotas[s] + 1))
