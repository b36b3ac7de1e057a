"""Vector-column aggregation ops for the embeddings table (SURVEY.md §7
Phase 4 extensions; no reference counterpart — the reference's only vector
math is 5-d sqdist, InvoicePipeline.scala:342-352).

Two idioms:

- ``label_centroids`` (scale path): posexplode to (label, dim, val) rows and
  hash-aggregate — the explode fans out inside the task (no shuffle), the
  groupBy shuffles once on (label, dim) with map-side partial sums. Float
  sums are accumulation-order-dependent, so this variant is for production
  pipelines, not bit-exact cross-engine checks.
- ``label_centroids_deterministic`` (oracle path): per (label, dim) group,
  sort the values by vec_id and left-fold — the same sequence of IEEE adds
  on any engine, so the result is bit-reproducible (DuckDB twin:
  ``list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)), ...)``).
  Costs a per-group sorted array build; group size is the per-label corpus
  count, so at 100 TB you'd use the non-deterministic variant (or partial
  Kahan) and verify with tolerance instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _exploded(emb: DataFrame, label_col: str, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector, long form: (label, dim 1-based, n, centroid_val)."""
    e = _exploded(emb, label_col, id_col, vec_col)
    return e.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.avg("val").alias("centroid_val")
    ).select(
        "label", (F.col("pos") + 1).alias("dim"), "n", "centroid_val"
    )


def label_centroids_deterministic(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bit-reproducible centroid: fold values in vec_id order, one division."""
    e = _exploded(emb, label_col, id_col, vec_col)
    folded = e.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
            F.lit(0.0),
            lambda acc, s: acc + s["val"],
        ).alias("sum_val"),
    )
    return folded.select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        "n",
        (F.col("sum_val") / F.col("n").cast("double")).alias("centroid_val"),
    )


def l2_normalize(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize each vector: (vec_id, norm, unit array<double>).

    Norm uses the same left-fold dot product as the cosine ops (bit-identical
    to DuckDB's list_dot_product, verified by the cosine oracles); zero vectors pass
    through unchanged with norm 0 rather than dividing by zero.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(vd, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
        )
    )
    return emb.select(
        F.col(id_col).alias("vec_id"),
        norm.alias("norm"),
        F.when(norm == 0.0, vd)
        .otherwise(F.transform(vd, lambda x: x / norm))
        .alias("unit"),
    )


__all__ = [
    "label_centroids",
    "label_centroids_deterministic",
    "l2_normalize",
    "label_top_eigenvalue",
    "label_spectrum_checked",
]


def label_top_eigenvalue(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label covariance spectrum head: top eigenvalue + explained
    variance share, via ``applyInPandas`` (Arrow-batched numpy per group).

    This is the engine's plain grouped-Pandas surface (SURVEY §2.7):
    dense linear algebra per group that no built-in expression covers.
    Each group ships as ONE Arrow batch to a worker; the result is one row
    per label, so the Python boundary carries aggregates, not the corpus.
    Groups must fit a worker's memory — at 100 TB you pre-aggregate or
    sample per group first (covariance is itself additive if needed).
    """
    out_schema = (
        f"{label_col} int, n_vectors long, dim int, "
        "top_eigenvalue double, explained_share double"
    )

    def spectrum(pdf):
        import numpy as np
        import pandas as pd

        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        centered = mat - mat.mean(axis=0, keepdims=True)
        # eigvalsh on the symmetric covariance: deterministic, real
        cov = (centered.T @ centered) / max(len(mat) - 1, 1)
        eig = np.linalg.eigvalsh(cov)
        top = float(eig[-1])
        total = float(eig.sum()) or 1.0
        return pd.DataFrame(
            [
                {
                    label_col: int(pdf[label_col].iloc[0]),
                    "n_vectors": len(mat),
                    "dim": mat.shape[1],
                    "top_eigenvalue": top,
                    "explained_share": top / total,
                }
            ]
        )

    return emb.groupBy(label_col).applyInPandas(spectrum, out_schema)


def label_spectrum_checked(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Externally-checkable face of the per-label eigensolve.

    The eigenvalues themselves aren't SQL, but the covariance TRACE is:
    trace = sum over dims of the per-dim sample variance, and with the
    house deterministic-fold idiom (values sorted by vec_id, 0.0-seeded
    left fold for the mean, then for the squared deviations, then a
    dim-ordered fold across dims) the double is bit-reproducible in
    DuckDB. The eigensolve is then verified per group against its own
    trace: sum(eigvals) must equal the fold trace to 1e-8 relative and
    the top eigenvalue must sit in [trace/dim, trace]. Output:
    ``label, n_vectors, dim, trace, spectrum_ok`` — every column has an
    exact DuckDB twin (spectrum_ok's twin is literal TRUE; a wrong
    eigensolve flips it and fails the hash).

    Scale: same applyInPandas shape as ``label_top_eigenvalue`` — one
    Arrow batch per label, one output row per label. The fold loops cost
    O(n*dim) Python-side per group; they exist for bit-reproducibility,
    so at 100 TB you'd keep the numpy path and tolerance-check instead.
    """
    out_schema = (
        f"{label_col} int, n_vectors long, dim int, "
        "trace double, spectrum_ok boolean"
    )

    def spectrum(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        n, dim = mat.shape
        denom = max(n - 1, 1)
        # Deterministic per-dim variance: left folds in vec_id order.
        variances = []
        for d in range(dim):
            col = mat[:, d]
            s = 0.0
            for x in col:
                s += x
            m = s / n
            sq = 0.0
            for x in col:
                sq += (x - m) * (x - m)
            variances.append(sq / denom)
        trace = 0.0
        for v in variances:  # dim-ordered fold
            trace += v
        # Independent numpy eigensolve, checked against the fold trace.
        centered = mat - mat.mean(axis=0, keepdims=True)
        cov = (centered.T @ centered) / denom
        eig = np.linalg.eigvalsh(cov)
        top, total = float(eig[-1]), float(eig.sum())
        tol = 1e-8 * max(abs(trace), 1e-30)
        ok = (
            abs(total - trace) <= tol
            and top <= trace + tol
            and top >= trace / dim - tol
        )
        return pd.DataFrame(
            [
                {
                    label_col: int(pdf[label_col].iloc[0]),
                    "n_vectors": n,
                    "dim": dim,
                    "trace": trace,
                    "spectrum_ok": bool(ok),
                }
            ]
        )

    return emb.groupBy(label_col).applyInPandas(spectrum, out_schema)
