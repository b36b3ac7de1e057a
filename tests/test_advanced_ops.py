"""Functional tests: bucketed range join, vector aggregation, multimodal
resize/audio plumbing, HLL sketch bound, Arrow cogroup.
(Cross-engine equivalence is covered by test_queries_oracle.py.)"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators import vectors as V
from spark_streaming_invoice_anomaly_detection_spark.operators.multimodal import (
    resize_images,
    synthesize_assets,
    window_audio_frames,
)
from spark_streaming_invoice_anomaly_detection_spark.operators.rangejoin import (
    bucketed_time_range_join,
)
from spark_streaming_invoice_anomaly_detection_spark.sources.catalog import load_table


class TestRangeJoin:
    def test_matches_naive_theta_join(self, spark, sf_dir):
        """Bucketed equi-join result == the O(n^2) theta join, pair for pair."""
        gap = 10_000_000
        e = (
            load_table(spark, "events", sf_dir)
            .select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
            .limit(400)
            .cache()
        )
        a = e.select(
            F.col("event_id").alias("event_id_a"),
            F.col("user_id").alias("user_id_a"),
            F.col("ts_us").alias("ts_us_a"),
        )
        b = e.select(
            F.col("event_id").alias("event_id_b"),
            F.col("user_id").alias("user_id_b"),
            F.col("ts_us").alias("ts_us_b"),
        )
        fast = {
            (r.event_id_a, r.event_id_b)
            for r in bucketed_time_range_join(
                a, b, "ts_us_a", "ts_us_b", gap,
                extra_cond=F.col("user_id_a") < F.col("user_id_b"),
            ).collect()
        }
        naive = {
            (r.event_id_a, r.event_id_b)
            for r in a.crossJoin(b)
            .filter(
                (F.abs(F.col("ts_us_a") - F.col("ts_us_b")) <= gap)
                & (F.col("user_id_a") < F.col("user_id_b"))
            )
            .collect()
        }
        assert fast == naive
        e.unpersist()

    def test_no_duplicate_pairs(self, spark):
        """A pair exactly on a bucket boundary matches on exactly one key."""
        rows = [(1, 0), (2, 10_000_000)]  # Δ == gap -> inclusive, boundary
        df = spark.createDataFrame(rows, "event_id long, ts_us long")
        a = df.select(F.col("event_id").alias("ida"), F.col("ts_us").alias("ta"))
        b = df.select(F.col("event_id").alias("idb"), F.col("ts_us").alias("tb"))
        out = bucketed_time_range_join(
            a, b, "ta", "tb", 10_000_000, extra_cond=F.col("ida") < F.col("idb")
        ).collect()
        assert len(out) == 1


class TestVectorOps:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        df = load_table(spark, "embeddings", sf_dir).cache()
        yield df
        df.unpersist()

    def test_centroid_variants_agree(self, emb):
        det = {
            (r.label, r.dim): r
            for r in V.label_centroids_deterministic(emb).collect()
        }
        fast = {(r.label, r.dim): r for r in V.label_centroids(emb).collect()}
        assert det.keys() == fast.keys()
        for k in det:
            assert det[k].n == fast[k].n
            # same mean up to float accumulation order
            assert abs(det[k].centroid_val - fast[k].centroid_val) < 1e-9

    def test_centroid_shape(self, emb):
        out = V.label_centroids_deterministic(emb).collect()
        n_labels = emb.select("label").distinct().count()
        assert len(out) == n_labels * 64
        assert sum(r.n for r in out) == emb.count() * 64

    def test_l2_normalize_unit_norm(self, emb):
        probe = V.l2_normalize(emb).select(
            "vec_id",
            "norm",
            F.sqrt(
                F.aggregate(
                    F.transform("unit", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
            ).alias("unit_norm"),
        )
        rows = probe.collect()
        assert all(abs(r.unit_norm - 1.0) < 1e-9 for r in rows if r.norm > 0)


class TestMultimodalExtras:
    @pytest.fixture(scope="class")
    def assets(self, spark, sf_dir):
        # leaked cache entries would substitute InMemoryRelation into other
        # tests' identical plan fragments (breaking plan-shape assertions)
        df = synthesize_assets(load_table(spark, "documents", sf_dir)).cache()
        yield df
        df.unpersist()

    def test_resize_closed_form(self, assets):
        """px_sum == 32 * sum(digest bytes): the (i*31)%32 walk is uniform."""
        out = resize_images(assets, 32, 32).collect()
        payloads = {
            r.asset_id: bytes(r.payload)
            for r in assets.filter(F.col("modality") == "image").collect()
        }
        assert len(out) == len(payloads) > 0
        for r in out:
            digest = hashlib.sha256(payloads[r.asset_id]).digest()
            assert r.px_sum == 32 * sum(digest)
            assert (r.out_w, r.out_h, r.n_px) == (32, 32, 1024)

    def test_audio_window_fanout(self, assets):
        out = window_audio_frames(assets, window_ms=500)
        counts = {
            r.asset_id: r.n
            for r in out.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        durs = {
            r.asset_id: r.duration_ms
            for r in assets.filter(F.col("modality") == "audio").collect()
        }
        assert counts.keys() == durs.keys()
        for aid, n in counts.items():
            assert n == max(durs[aid] - 1, 0) // 500 + 1
        # energy is a sha byte: always in [0, 255]
        row = out.agg(F.min("energy"), F.max("energy")).first()
        assert 0 <= row[0] <= row[1] <= 255


class TestApproxDistinct:
    def test_hll_within_rsd(self, spark, sf_dir):
        e = load_table(spark, "events", sf_dir)
        approx = {
            r.event_type: r.approx_users
            for r in e.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
            .collect()
        }
        exact = {
            r.event_type: r.exact_users
            for r in e.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("exact_users"))
            .collect()
        }
        assert approx.keys() == exact.keys()
        for k in exact:
            assert abs(approx[k] - exact[k]) <= max(0.05 * exact[k], 2)


class TestSpearmanMoments:
    def test_exact_past_int64_horizon(self, spark):
        """rank_moments must stay exact where int64 sums would wrap.

        Ranks ~2^32 over 1000 rows give sum(rank^2) ~ 1.9e22 >> int64 max
        (9.2e18) — the shape a ~3e9-row global rank join would produce.
        Compared against arbitrary-precision Python ints.
        """
        from spark_streaming_invoice_anomaly_detection_spark.plans.advanced import (
            rank_moments,
        )

        base = 2**32
        rows = [(base + i, base + ((i * 7919) % 1000)) for i in range(1000)]
        df = spark.createDataFrame(rows, "rx long, ry long")
        got = rank_moments(df).collect()[0]
        assert got.n == 1000
        assert int(got.sx) == sum(rx for rx, _ in rows)
        assert int(got.sy) == sum(ry for _, ry in rows)
        assert int(got.sxy) == sum(rx * ry for rx, ry in rows)
        assert int(got.sxx) == sum(rx * rx for rx, _ in rows)
        assert int(got.syy) == sum(ry * ry for _, ry in rows)
        assert int(got.sxx) > 2**63  # the test is vacuous unless we crossed


class TestDailyTrendSlope:
    def test_matches_numpy_ols(self, spark, sf_dir):
        """The fold-moment slope/r2 must agree with an independent numpy
        least-squares on the same exact daily sums (tolerance-based: numpy
        accumulates in a different order; the ORACLE equality is exact)."""
        import numpy as np
        from pyspark.sql import functions as F

        from spark_streaming_invoice_anomaly_detection_spark.functions.exactmath import (
            scaled_long,
        )
        from spark_streaming_invoice_anomaly_detection_spark.plans.advanced import (
            _t,
            q_daily_trend_slope,
        )

        daily = (
            _t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.sum(scaled_long("value", 6)).alias("ym"))
            .collect()
        )
        series = {}
        for r in daily:
            series.setdefault(r.event_type, []).append(
                ((r.day - __import__("datetime").date(1970, 1, 1)).days, r.ym)
            )
        rows = q_daily_trend_slope(spark, sf_dir).collect()
        assert len(rows) == len(series)
        for r in rows:
            pts = sorted(series[r.event_type])
            x = np.array([p[0] for p in pts], dtype=float)
            y = np.array([p[1] for p in pts], dtype=float) / 1e6
            assert r.n_days == len(pts)
            slope, intercept = np.polyfit(x, y, 1)
            assert r.slope_per_day == pytest.approx(slope, rel=1e-9)
            assert r.mean_daily == pytest.approx(y.mean(), rel=1e-12)
            cc = np.corrcoef(x, y)[0, 1]
            assert r.r2 == pytest.approx(cc * cc, rel=1e-9)
        # the synthetic data trends: at least one type must show a real
        # slope with non-trivial fit, or the query pins nothing
        assert any(
            r.slope_per_day is not None
            and abs(r.slope_per_day) > 0
            and r.r2 is not None
            and r.r2 > 0.001
            for r in rows
        )


class TestArrowCogroup:
    """event_attribution moved to cogrouped applyInArrow; values must
    match the definitional range-join + re-aggregate on synthetic data,
    including customers with no events (left-outer zero counts)."""

    def test_matches_range_join(self, spark):
        import datetime as dt

        base = dt.datetime(2024, 1, 10, 12, 0, 0)
        events = spark.createDataFrame(
            [
                (1, base - dt.timedelta(days=1)),
                (1, base - dt.timedelta(days=6, hours=23)),
                (1, base - dt.timedelta(days=8)),   # outside window
                (2, base),                           # boundary: ts == hi
                (3, base - dt.timedelta(days=3)),
            ],
            "user_id long, ts timestamp",
        )
        orders = spark.createDataFrame(
            [
                (1, 101, dt.datetime(2024, 1, 10, 12, 0, 0)),
                (2, 102, dt.datetime(2024, 1, 10, 12, 0, 0)),
                (3, 103, dt.datetime(2023, 12, 1, 0, 0, 0)),  # no events
                (4, 104, dt.datetime(2024, 1, 10, 12, 0, 0)),  # no user
            ],
            "o_custkey long, o_orderkey long, o_orderdate timestamp",
        )
        from spark_streaming_invoice_anomaly_detection_spark.operators.cogroup import (
            event_attribution,
        )

        got = {
            r.o_orderkey: r.n_events_7d
            for r in event_attribution(events, orders).collect()
        }
        # definitional range join + re-aggregate
        j = (
            orders.join(
                events,
                (events.user_id == orders.o_custkey)
                & (events.ts > orders.o_orderdate - F.expr("INTERVAL 7 DAYS"))
                & (events.ts <= orders.o_orderdate),
                "left",
            )
            .groupBy("o_orderkey")
            .agg(F.count("ts").alias("n"))
        )
        want = {r.o_orderkey: r.n for r in j.collect()}
        assert got == want
        assert want[103] == 0 and want[104] == 0  # left-outer zeros kept
