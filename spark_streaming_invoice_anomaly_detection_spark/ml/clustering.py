"""KMeans / BisectingKMeans anomaly detector (SURVEY.md §2.6).

Re-expresses the reference training path on ``pyspark.ml`` (DataFrame-native,
no RDD hop — the reference's ``toDataset`` at Clustering.scala:69-91 exits
Catalyst; we stay in it):

- M1/M2 sweep: fit k=1..20 (KMeansClusterInvoices.scala:55-68,
  BisectingKMeansClusterInvoices.scala:56-69)
- M3 elbow: first i with cost[i]/cost[i-1] > ratio, else last
  (Clustering.scala:93-98; ratio 0.7)
- M5 distance-to-centroid: sqdist(point, centers[predict(point)])
  (KMeansClusterInvoices.scala:72-76) — here one Column expression
  (``centroid_distance``): the centroids ride in the plan as an array
  literal indexed by the prediction, then native zip_with/aggregate
  arithmetic; no UDF, no join
- A4 threshold: 2000th-largest distance (KMeansClusterInvoices.scala:44-50)
  as an exact order statistic (TakeOrdered, never approxQuantile)
- S5-S7 persistence: pyspark.ml save/load + JSON threshold sidecar
  (Clustering.scala:100-106 wrote a bare text file)

Scale notes: each fit is a distributed job over the (cached) feature frame;
scoring is codegen'd arithmetic per row against k<=20 literal centroid
vectors — no Python in the row path, no join, no job of its own.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.ml.clustering import (
    BisectingKMeans,
    BisectingKMeansModel,
    KMeans,
    KMeansModel,
)
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FEATURE_COLS

DEFAULT_K_RANGE = range(1, 21)  # reference sweeps k=1..20
DEFAULT_ELBOW_RATIO = 0.7  # KMeansClusterInvoices.scala:65
DEFAULT_THRESHOLD_K = 2000  # "top(2000).last"
DEFAULT_SEED = 42  # reference is unseeded; we seed for reproducibility


def assemble_features(
    df: DataFrame, feature_cols: list[str] | None = None, output_col: str = "features"
) -> DataFrame:
    """Dense feature vector in the reference's exact column order
    [avg, min, max, time, number_items] (InvoicePipeline.scala:342-348)."""
    cols = feature_cols or FEATURE_COLS
    assembler = VectorAssembler(inputCols=cols, outputCol=output_col)
    # cast to double first: VectorAssembler rejects longs. Only the columns
    # that need it: the streaming fan-out assembles doubles every
    # micro-batch, and skipping the cast projection saves about 65 ms of
    # driver time per call (Py4J calls and analysis, 4-core host).
    types = dict(df.dtypes)
    to_cast = {c: F.col(c).cast("double") for c in cols if types[c] != "double"}
    return assembler.transform(df.withColumns(to_cast) if to_cast else df)


def elbow_selection(costs: list[float], ratio: float = DEFAULT_ELBOW_RATIO) -> int:
    """Index of the selected model (Clustering.scala:93-98, verbatim
    semantics): first i>=1 whose cost ratio to the previous k exceeds
    ``ratio`` — i.e. where adding a cluster stopped paying — else the last.

    Zero-cost edge (IEEE division, as the Scala code computes it):
    cost[i]>0 after cost[i-1]==0 gives +Infinity > ratio -> select i;
    0/0 is NaN, never > ratio -> keep scanning.
    """
    for i in range(1, len(costs)):
        if costs[i - 1] == 0:
            if costs[i] != 0:
                return i
            continue  # 0/0 = NaN: not > ratio
        if costs[i] / costs[i - 1] > ratio:
            return i
    return len(costs) - 1


def train_sweep(
    features: DataFrame,
    algo: str = "kmeans",
    k_range: range = DEFAULT_K_RANGE,
    seed: int = DEFAULT_SEED,
    features_col: str = "features",
):
    """M1/M2: fit every k in the sweep; return (models, costs).

    The reference fits all 20 then selects (KMeansClusterInvoices.scala:57-66
    — no early stop); we keep those semantics but cache the feature frame so
    the 20 jobs share one materialization. Cost = training WSSSE, matching
    mllib's computeCost on the training set.

    The reference's mllib API allowed k=1; pyspark.ml requires k>=2. The
    elbow rule can only ever select index >= 1 (k >= 2), so the k=1 entry
    exists purely as the denominator of the first cost ratio — computed
    analytically (WSSSE vs the global mean = sum_j (n-1)*var_j) with no fit,
    and its model slot left as None.
    """
    owns_cache = not features.is_cached
    if owns_cache:
        features = features.persist()
    models, costs = [], []
    try:
        for k in k_range:
            if k == 1:
                models.append(None)
                costs.append(_single_cluster_cost(features, features_col))
                continue
            if algo == "kmeans":
                est = KMeans(k=k, seed=seed, featuresCol=features_col)
            elif algo == "bisecting":
                est = BisectingKMeans(k=k, seed=seed, featuresCol=features_col)
            else:
                raise ValueError(f"unknown algo: {algo}")
            model = est.fit(features)
            models.append(model)
            costs.append(float(model.summary.trainingCost))
    finally:
        if owns_cache:
            features.unpersist()
    return models, costs


def _single_cluster_cost(features: DataFrame, features_col: str) -> float:
    """Exact k=1 WSSSE: one distributed aggregation, no clustering."""
    from pyspark.ml.stat import Summarizer

    row = features.agg(
        Summarizer.variance(F.col(features_col)).alias("var"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    n = row["n"]
    return float(sum(v * (n - 1) for v in row["var"]))


def train_detector(
    features: DataFrame,
    algo: str = "kmeans",
    k_range: range = DEFAULT_K_RANGE,
    ratio: float = DEFAULT_ELBOW_RATIO,
    seed: int = DEFAULT_SEED,
    threshold_k: int = DEFAULT_THRESHOLD_K,
):
    """Full reference training flow: sweep -> elbow -> threshold.

    Returns (model, threshold, costs). Threshold is the exact
    ``threshold_k``-th largest distance-to-centroid over the training set.
    A null feature (e.g. an invoice whose Quantity values are all
    non-numeric has no ``number_items``) fails the run, as the reference's
    training does, with a ValueError naming the column.
    """
    _check_no_null_features(features)
    models, costs = train_sweep(features, algo, k_range, seed)
    model = models[elbow_selection(costs, ratio)]
    if model is None:  # only reachable with a single-element k_range of [1]
        raise ValueError("elbow selected k=1; sweep must include k >= 2")
    scored = distance_to_centroid(features, model)
    threshold = compute_threshold(scored, threshold_k)
    return model, threshold, costs


def _check_no_null_features(features: DataFrame) -> None:
    """Raise ValueError naming each null reference feature column and how
    many invoices it is null for (one aggregation), instead of the
    VectorAssembler trace the sweep would otherwise end in."""
    cols = [c for c in FEATURE_COLS if c in features.columns]
    counts = features.select(
        *[F.count_if(F.col(c).isNull()).alias(c) for c in cols]
    ).first()
    bad = [f"{c!r} ({counts[c]} invoices)" for c in cols if counts[c]]
    if bad:
        raise ValueError(
            "null training feature column(s): " + ", ".join(bad)
            + "; clean or filter those invoices before training"
        )


def centroid_distance(
    features: Column, prediction: Column, centers
) -> Column:
    """M5 as one Column: squared Euclidean distance from the ``features``
    vector to ``centers[prediction]``. The k centroids are an array literal
    indexed with ``element_at(prediction + 1)``, so the whole plan stays in
    the JVM and scoring needs neither a join nor a centroid DataFrame."""
    centroid = F.element_at(
        F.lit([[float(x) for x in c] for c in centers]), prediction + 1
    )
    diffsq = F.zip_with(
        vector_to_array(features), centroid, lambda x, c: (x - c) * (x - c)
    )
    return F.aggregate(diffsq, F.lit(0.0), lambda acc, v: acc + v)


def distance_to_centroid(
    features: DataFrame,
    model: KMeansModel | BisectingKMeansModel,
    features_col: str = "features",
    dist_col: str = "dist",
) -> DataFrame:
    """M4+M5: predict nearest centroid, then squared Euclidean distance.

    ``model.transform`` adds the model's prediction column; ``dist_col`` is
    ``centroid_distance`` against the model's centers.
    """
    return model.transform(features).withColumn(
        dist_col,
        centroid_distance(
            F.col(features_col),
            F.col(model.getPredictionCol()),
            model.clusterCenters(),
        ),
    )


def compute_threshold(
    scored: DataFrame, k: int = DEFAULT_THRESHOLD_K, dist_col: str = "dist"
) -> float:
    """A4: exact k-th largest distance (KMeansClusterInvoices.scala:44-50).

    TakeOrdered keeps top-k per partition then merges on the driver —
    O(partitions*k), no global sort. If the dataset has fewer than k rows the
    smallest distance wins, matching ``top(k).last`` on a short RDD.
    """
    row = (
        scored.select(dist_col)
        .orderBy(F.desc(dist_col))
        .limit(k)
        .agg(F.min(dist_col).alias("t"))
        .first()
    )
    return float(row["t"])


def detect_anomalies(
    scored: DataFrame, threshold: float, dist_col: str = "dist"
) -> DataFrame:
    """M6/P11: anomaly <=> distance strictly above threshold
    (InvoicePipeline.scala:353,374)."""
    return scored.filter(F.col(dist_col) > F.lit(threshold))


# ---------------------------------------------------------------------------
# Persistence (S5-S7): model dir (parquet+JSON, pyspark.ml layout) +
# threshold JSON sidecar replacing the reference's bare text file.
# ---------------------------------------------------------------------------


@dataclass
class Detector:
    model: KMeansModel | BisectingKMeansModel
    threshold: float
    algo: str


def save_detector(detector: Detector, path: str) -> None:
    detector.model.write().overwrite().save(os.path.join(path, "model"))
    with open(os.path.join(path, "detector.json"), "w") as f:
        json.dump({"threshold": detector.threshold, "algo": detector.algo}, f)


def load_detector(spark: SparkSession, path: str) -> Detector:
    with open(os.path.join(path, "detector.json")) as f:
        meta = json.load(f)
    cls = KMeansModel if meta["algo"] == "kmeans" else BisectingKMeansModel
    model = cls.load(os.path.join(path, "model"))
    return Detector(model=model, threshold=float(meta["threshold"]), algo=meta["algo"])
