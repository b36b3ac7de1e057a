"""ML-path invariants (SURVEY.md §7 hard-point 6: oracle can't check KMeans,
so these pin the reference semantics directly)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import (
    Detector,
    assemble_features,
    compute_threshold,
    detect_anomalies,
    distance_to_centroid,
    elbow_selection,
    load_detector,
    save_detector,
    train_detector,
)
from spark_streaming_invoice_anomaly_detection_spark.plans.ml_queries import (
    ANOMALY_OUTPUT_COLUMNS,
    _FEATS,
    _featurize,
    q_kmeans_anomalies,
)


def test_elbow_selection_reference_semantics():
    # Clustering.scala:93-98: first i with cost[i]/cost[i-1] > ratio, else last
    assert elbow_selection([100.0, 80.0, 75.0, 74.0], 0.7) == 1  # 80/100 > 0.7
    assert elbow_selection([100.0, 50.0, 40.0, 39.0], 0.7) == 2  # 40/50 = 0.8
    assert elbow_selection([100.0, 50.0, 20.0, 5.0], 0.7) == 3  # no break -> last
    assert elbow_selection([100.0], 0.7) == 0


def test_threshold_is_exact_order_statistic(spark):
    # threshold = k-th largest (top(k).last), never an approximation
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "dist double")
    assert compute_threshold(df, k=10) == 91.0  # 10th largest of 1..100
    assert compute_threshold(df, k=1) == 100.0
    assert compute_threshold(df, k=500) == 1.0  # fewer rows than k -> min


@pytest.fixture(scope="module")
def features(spark, sf_dir):
    return assemble_features(_featurize(spark, sf_dir), _FEATS).persist()


def test_distance_to_centroid_matches_manual(spark, features):
    from pyspark.ml.clustering import KMeans

    model = KMeans(k=3, seed=42).fit(features)
    scored = distance_to_centroid(features, model)
    row = scored.select("invoice_no", "prediction", "dist", *_FEATS).first()
    center = model.clusterCenters()[row["prediction"]]
    manual = sum((row[c] - center[i]) ** 2 for i, c in enumerate(_FEATS))
    assert abs(row["dist"] - manual) < 1e-6 * max(manual, 1.0)
    # prediction must be the argmin centroid
    dists = [
        sum((row[c] - ctr[i]) ** 2 for i, c in enumerate(_FEATS))
        for ctr in model.clusterCenters()
    ]
    assert dists[row["prediction"]] == min(dists)


def test_train_detector_end_to_end(spark, features, tmp_path):
    model, threshold, costs = train_detector(
        features, algo="kmeans", k_range=range(1, 5), threshold_k=100
    )
    assert len(costs) == 4
    assert model.getK() == elbow_selection(costs) + 1  # k = index + 1
    assert threshold > 0

    scored = distance_to_centroid(features, model)
    anomalies = detect_anomalies(scored, threshold)
    n_total = scored.count()
    n_anom = anomalies.count()
    # threshold is the 100th-largest distance -> at most 99 strictly above
    assert n_anom <= 99
    assert n_anom < n_total
    assert anomalies.agg(F.min("dist")).first()[0] > threshold

    # S5-S7 persistence round trip
    path = str(tmp_path / "detector")
    save_detector(Detector(model=model, threshold=threshold, algo="kmeans"), path)
    loaded = load_detector(spark, path)
    assert loaded.threshold == threshold
    assert loaded.model.getK() == model.getK()
    assert [list(c) for c in loaded.model.clusterCenters()] == [
        list(c) for c in model.clusterCenters()
    ]


def test_bisecting_trains(spark, features):
    model, threshold, costs = train_detector(
        features, algo="bisecting", k_range=range(2, 5), threshold_k=100
    )
    assert len(costs) == 3
    assert threshold > 0


def test_training_query_output_and_no_cache_left(spark, sf_dir):
    """The registered training flow (shared by both training queries)
    returns the fixed anomaly projection and releases what it persists."""
    spark.catalog.clearCache()
    out = q_kmeans_anomalies(spark, sf_dir)
    assert tuple(out.columns) == ANOMALY_OUTPUT_COLUMNS
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
