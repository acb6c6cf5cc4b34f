"""Outlier-detection suite (SURVEY §2.9 M6-M9).

Reference:
- M6 z-score on distance-to-centroid, z > 3 per cluster
  (main-script1.ipynb:3767 c64; numpy std → ddof=0 → stddev_pop).
- M7 cosine-distance > 95th percentile per cluster
  (nuevo-kmeans-pre.ipynb:636 c29).
- M8 Local Outlier Factor per cluster, n_neighbors = 5%/25% of cluster,
  contamination 0.02/'auto' (main-script1.ipynb:3966 c67,
  analisis-informe.ipynb:2204 c69 — clusters are 85-335 points).
- M9 robust-covariance Mahalanobis > 95th pct per cluster
  (main-script1.ipynb:4140 c70, MinCovDet).

Spark mapping: M6/M7 are pure window/groupBy expressions (distributed,
codegen'd). M8/M9 are per-group numpy kernels via applyInPandas — the
idiomatic "Spark for the big table, local kernel for the small group"
split; the container has no sklearn, so LOF and the covariance estimator
are implemented in numpy inside the kernel (LOF follows Breunig et al.
2000 exactly; the covariance path uses the empirical estimator — a
documented deviation from MinCovDet, SURVEY §4.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V


def zscore_outliers(df: DataFrame, cluster_col: str, dist_col: str) -> DataFrame:
    """M6 — |z| of dist within cluster > 3 (population std, ddof=0,
    matching np.std at main-script1.ipynb:3767 c64)."""
    w = Window.partitionBy(cluster_col)
    mean = F.mean(dist_col).over(w)
    std = F.stddev_pop(dist_col).over(w)
    z = V.z_score(F.col(dist_col), mean, std)
    return df.withColumn("z", z).withColumn(
        "is_outlier", F.coalesce(F.abs(F.col("z")) > 3.0, F.lit(False))
    )


def percentile_outliers(df: DataFrame, cluster_col: str, dist_col: str) -> DataFrame:
    """M7 — dist > per-cluster exact 95th percentile (np.percentile linear
    interpolation = Spark `percentile`)."""
    thresholds = df.groupBy(cluster_col).agg(
        F.percentile(dist_col, F.lit(0.95)).alias("__thr")
    )
    return (
        df.join(F.broadcast(thresholds), cluster_col)
        .withColumn("is_outlier", F.col(dist_col) > F.col("__thr"))
        .drop("__thr")
    )


def _lof_scores(X: np.ndarray, n_neighbors: int) -> np.ndarray:
    """Local Outlier Factor (Breunig et al. 2000), plain numpy.

    O(m^2) distances — intended for per-cluster groups of <= a few
    thousand rows. Returns the LOF score per row (~1 inlier, >1 outlier).
    """
    m = len(X)
    k = max(1, min(n_neighbors, m - 1))
    d = np.sqrt(
        np.maximum(
            ((X**2).sum(1)[:, None] - 2 * X @ X.T + (X**2).sum(1)[None, :]), 0.0
        )
    )
    np.fill_diagonal(d, np.inf)
    knn_idx = np.argpartition(d, k - 1, axis=1)[:, :k]
    rows = np.arange(m)[:, None]
    kdist = d[rows, knn_idx].max(axis=1)  # k-distance per point
    # reachability distance: max(k-dist(neighbor), d(p, neighbor))
    reach = np.maximum(kdist[knn_idx], d[rows, knn_idx])
    lrd = 1.0 / (reach.mean(axis=1) + 1e-12)
    lof = (lrd[knn_idx].mean(axis=1)) / lrd
    return lof


def lof_outliers(
    df: DataFrame,
    cluster_col: str,
    vector_col: str,
    id_col: str,
    n_neighbors_frac: float = 0.05,
    contamination: float = 0.02,
) -> DataFrame:
    """M8 — per-cluster LOF via applyInPandas.

    n_neighbors = int(frac * cluster_size) (reference uses 5% / 25%);
    the top `contamination` fraction by LOF score is flagged, mirroring
    sklearn's contamination=0.02 behavior. Returns
    (cluster, id, lof double, is_outlier boolean).
    """
    id_field = df.schema[id_col]
    c_field = df.schema[cluster_col]
    schema = T.StructType(
        [
            T.StructField(cluster_col, c_field.dataType),
            T.StructField(id_col, id_field.dataType),
            T.StructField("lof", T.DoubleType()),
            T.StructField("is_outlier", T.BooleanType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by id: argpartition breaks k-NN distance ties by array
        # index, so an unsorted (shuffle-ordered) group would make tied
        # neighborhoods — and the flagged set — run-dependent (same
        # reason the M9 kernel sorts)
        pdf = pdf.sort_values(id_col, ignore_index=True)
        m = len(pdf)
        X = V.stack_vectors(pdf[vector_col])
        if m < 3:
            return pd.DataFrame(
                {
                    cluster_col: pdf[cluster_col],
                    id_col: pdf[id_col],
                    "lof": np.ones(m),
                    "is_outlier": np.zeros(m, dtype=bool),
                }
            )
        k = max(1, int(n_neighbors_frac * m))
        lof = _lof_scores(X, k)
        n_out = max(0, int(np.ceil(contamination * m)))
        thr = np.partition(lof, m - n_out)[m - n_out] if n_out else np.inf
        return pd.DataFrame(
            {
                cluster_col: pdf[cluster_col],
                id_col: pdf[id_col],
                "lof": lof,
                "is_outlier": lof >= thr if n_out else np.zeros(m, dtype=bool),
            }
        )

    return (
        df.select(cluster_col, id_col, vector_col)
        .groupBy(cluster_col)
        .applyInPandas(kernel, schema=schema)
    )


def fast_mcd(X: np.ndarray, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """FastMCD (Rousseeuw & Van Driessen 1999) — the estimator behind
    sklearn MinCovDet, which the reference uses for M9
    (main-script1.ipynb:4140 c70). Plain numpy, fully seeded.

    n_trials elemental (d+1)-subsets, each refined by C-steps (keep the
    h = (m+d+1)//2 smallest Mahalanobis points, refit, repeat while the
    determinant drops); the minimum-determinant fit wins. The covariance
    is rescaled by median(d²)/chi²_median(d) for consistency under
    normality — chi² median via the Wilson-Hilferty cube approximation
    (no scipy in this container); the factor cancels in percentile-based
    flagging anyway.
    """
    X = np.asarray(X, dtype=np.float64)
    m, d = X.shape
    h = (m + d + 1) // 2
    rng = np.random.RandomState(seed)
    ridge = 1e-12 * np.eye(d)
    best: tuple[float, np.ndarray, np.ndarray] | None = None
    for _ in range(30):
        idx = rng.choice(m, size=min(d + 1, m), replace=False)
        mu = X[idx].mean(axis=0)
        cov = np.atleast_2d(np.cov(X[idx], rowvar=False)) + ridge
        prev_det = np.inf
        for _ in range(20):
            prec = np.linalg.pinv(cov)
            c = X - mu
            d2 = np.einsum("ij,jk,ik->i", c, prec, c)
            keep = np.argsort(d2, kind="stable")[:h]
            mu = X[keep].mean(axis=0)
            cov = np.atleast_2d(np.cov(X[keep], rowvar=False)) + ridge
            sign, logdet = np.linalg.slogdet(cov)
            det = logdet if sign > 0 else np.inf
            if det >= prev_det - 1e-12:
                break
            prev_det = det
        if best is None or prev_det < best[0]:
            best = (prev_det, mu, cov)
    _, mu, cov = best
    prec = np.linalg.pinv(cov)
    c = X - mu
    d2 = np.einsum("ij,jk,ik->i", c, prec, c)
    chi2_median = d * (1.0 - 2.0 / (9.0 * d)) ** 3  # Wilson-Hilferty
    cov = cov * (np.median(d2) / chi2_median)
    return mu, cov


def location_covariance(
    X: np.ndarray, method: str = "mcd", seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """(location, covariance) for Mahalanobis scoring. method='mcd' runs
    FastMCD when the group is big enough to support it (m > 2(d+1)),
    falling back to the empirical estimator on tiny groups; 'empirical'
    always uses mean/cov. Shared by the M9 kernel and its DuckDB oracle
    generator so both sides branch identically."""
    X = np.asarray(X, dtype=np.float64)
    m, d = X.shape
    if method == "mcd" and m > 2 * (d + 1):
        return fast_mcd(X, seed=seed)
    if method not in ("mcd", "empirical"):
        raise ValueError(f"unknown method {method!r}")
    return X.mean(axis=0), np.atleast_2d(np.cov(X, rowvar=False))


def mahalanobis_outliers(
    df: DataFrame,
    cluster_col: str,
    vector_col: str,
    id_col: str,
    method: str = "mcd",
    seed: int = 42,
) -> DataFrame:
    """M9 — per-cluster robust Mahalanobis distance > 95th percentile.

    method='mcd' (default) matches the reference's MinCovDet via the
    numpy FastMCD above — robust location/scatter, so clustered
    contamination can't mask itself by inflating the empirical
    covariance; method='empirical' keeps the prior behavior. Groups are
    sorted by id before fitting so the seeded estimator is reproducible
    regardless of shuffle order. The reference applies this after a
    UMAP->3D projection; the operator takes whatever vector column it is
    given (the registered query feeds a PCA-3D projection).
    """
    id_field = df.schema[id_col]
    c_field = df.schema[cluster_col]
    schema = T.StructType(
        [
            T.StructField(cluster_col, c_field.dataType),
            T.StructField(id_col, id_field.dataType),
            T.StructField("mahal", T.DoubleType()),
            T.StructField("is_outlier", T.BooleanType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        X = V.stack_vectors(pdf[vector_col])
        m = len(X)
        if m < 3:
            return pd.DataFrame(
                {
                    cluster_col: pdf[cluster_col],
                    id_col: pdf[id_col],
                    "mahal": np.zeros(m),
                    "is_outlier": np.zeros(m, dtype=bool),
                }
            )
        mu, cov = location_covariance(X, method=method, seed=seed)
        prec = np.linalg.pinv(cov)
        c = X - mu
        mahal = np.sqrt(np.maximum(np.einsum("ij,jk,ik->i", c, prec, c), 0.0))
        thr = np.percentile(mahal, 95.0)
        return pd.DataFrame(
            {
                cluster_col: pdf[cluster_col],
                id_col: pdf[id_col],
                "mahal": mahal,
                "is_outlier": mahal > thr,
            }
        )

    return (
        df.select(cluster_col, id_col, vector_col)
        .groupBy(cluster_col)
        .applyInPandas(kernel, schema=schema)
    )
