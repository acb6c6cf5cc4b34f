"""Clustering operators (SURVEY §2.9 M1-M5).

Reference:
- KMeans fit/predict with n_init restarts, inertia, centers
  (``cluster_kmeans``, nuevo-kmeans-pre.ipynb:381 c18; production config
  n_clusters=37, N_ITER_KMEANS=25, max_iter=300, cluster_creator.py:17-18).
- silhouette score, full & sampled (sample_size=2000)
  (nuevo-kmeans-pre.ipynb:284 c14; silhouettes.ipynb:441 c23).
- k-sweep model selection, k in [2,100) (nuevo-kmeans-pre.ipynb:400 c19).
- ``fit_and_evaluate`` timing harness, mean±std seconds over n seeded runs
  (nuevo-kmeans-pre.ipynb:284 c14).

Spark mapping: MLlib KMeans (k-means|| init). sklearn-identical centers are
impossible (different init/RNG — SURVEY §4.3), so tests assert invariants:
inertia tolerance, label-permutation equivalence, silhouette ±0.02.
n_init restarts = driver loop over seeds keeping min training cost.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V


def _to_features(df: DataFrame, vector_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        "features", array_to_vector(F.col(vector_col).cast("array<double>"))
    )


@dataclass
class KMeansResult:
    k: int
    seed: int
    inertia: float
    centers: list[list[float]]
    model: object = field(repr=False)

    def centroids_df(self, spark: SparkSession) -> DataFrame:
        """Centers as the engine's centroid-table shape (SURVEY §1.2)."""
        return spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centers)],
            schema="cluster_label int, centroid array<float>",
        )

    def assign(self, df: DataFrame, vector_col: str, out_col: str = "cluster") -> DataFrame:
        """Attach predicted cluster (MLlib transform — distributed, no shuffle)."""
        out = self.model.transform(_to_features(df, vector_col))
        return out.withColumnRenamed("prediction", out_col).drop("features")


def kmeans_fit(
    df: DataFrame,
    k: int,
    n_init: int = 1,
    max_iter: int = 300,
    seed: int = 42,
    vector_col: str = "embedding",
) -> KMeansResult:
    """M1 — KMeans with n_init seeded restarts, keeping the min-inertia fit.

    sklearn's n_init re-runs k-means++ with fresh seeds; MLlib's k-means||
    init is already more robust, but we honor the restart protocol for
    parity with the reference's best-of-N runs (silhouettes.ipynb:526 c26).
    """
    from pyspark.ml.clustering import KMeans

    feats = _to_features(df, vector_col).select("features")
    feats.cache()
    try:
        best: KMeansResult | None = None
        for i in range(n_init):
            m = KMeans(k=k, maxIter=max_iter, seed=seed + i).fit(feats)
            cost = m.summary.trainingCost  # = sklearn inertia_ (sum sq dist)
            if best is None or cost < best.inertia:
                best = KMeansResult(
                    k=k,
                    seed=seed + i,
                    inertia=float(cost),
                    centers=[c.tolist() for c in m.clusterCenters()],
                    model=m,
                )
        assert best is not None
        return best
    finally:
        feats.unpersist()


def silhouette_exact(
    assigned: DataFrame,
    vector_col: str = "embedding",
    cluster_col: str = "cluster",
    sample_size: int | None = 2000,
) -> float:
    """M2 — euclidean silhouette, numpy, on a (seeded) sample.

    Matches sklearn.silhouette_score(metric='euclidean', sample_size=...):
    the reference bounds the O(n^2) cost the same way
    (nuevo-kmeans-pre.ipynb:284 c14). Distances from the sampled rows to
    ALL rows are required by the definition; sampling keeps this a
    (s x n) matrix. Collect is bounded to the sample + corpus vectors —
    use only at reference scale (<=1e5 rows).
    """
    pdf = assigned.select(cluster_col, vector_col).toPandas()
    X = V.stack_vectors(pdf[vector_col])
    labels = pdf[cluster_col].to_numpy()
    return silhouette_numpy(X, labels, sample_size=sample_size)


def silhouette_numpy(
    X: np.ndarray,
    labels: np.ndarray,
    sample_size: int | None = 2000,
) -> float:
    """The numpy silhouette core shared by silhouette_exact (DataFrame
    collect) and the DBSCAN grid sweep's single-task regime (matrix
    already in driver memory): identical seeded positional sampling and
    a/b math, so the two callers are bit-equal on the same inputs."""
    n = len(X)
    idx = np.arange(n)
    if sample_size is not None and sample_size < n:
        idx = np.random.RandomState(42).choice(n, sample_size, replace=False)

    # vectorized: one (s, n) distance GEMM + one (s, k) per-label mean GEMM
    S = X[idx]
    sq_x = (X * X).sum(axis=1)
    sq_s = (S * S).sum(axis=1)
    D = np.sqrt(np.maximum(sq_s[:, None] - 2.0 * (S @ X.T) + sq_x[None, :], 0.0))

    uniq, inv = np.unique(labels, return_inverse=True)
    k = len(uniq)
    if k < 2:
        raise ValueError(
            f"silhouette requires 2 <= n_labels; got {k}"
        )
    onehot = np.zeros((n, k))
    onehot[np.arange(n), inv] = 1.0
    counts = onehot.sum(axis=0)  # (k,)
    sums = D @ onehot  # (s, k) sum of distances to each label

    own = inv[idx]
    rows = np.arange(len(idx))
    own_counts = counts[own]
    a = np.where(own_counts > 1, sums[rows, own] / np.maximum(own_counts - 1, 1), 0.0)
    means = sums / counts[None, :]
    means[rows, own] = np.inf
    b = means.min(axis=1)
    sil = np.where(own_counts > 1, (b - a) / np.maximum(a, b), 0.0)
    return float(np.mean(sil))


def silhouette_exact_distributed(
    assigned: DataFrame,
    vector_col: str = "embedding",
    cluster_col: str = "cluster",
    sample_size: int | None = 2000,
    id_cols: list[str] | None = None,
) -> float:
    """M2 — euclidean silhouette (sklearn semantics) with NO full-table
    collect: the scale rework of silhouette_exact (VERDICT r1 #4).

    Driver footprint is bounded by the sample: only the (s x d) sampled
    matrix ships (broadcast); per-label partial distance sums accumulate
    executor-side (mapInPandas GEMM per Arrow batch), reduced by a
    (label, pos) groupBy with map-side combine, and the final a/b/sil math
    runs on the (k x s) sum matrix. Full-corpus vectors never leave the
    executors.

    Sampling is a seeded hash-order sample (smallest s of
    xxhash64(seed, id_cols or row content)) — deterministic and
    shuffle-free (TakeOrdered) but a *different* seeded sample than
    silhouette_exact's positional one, so sampled scores differ within
    sampling noise; with sample_size >= n (or None) both compute the full
    silhouette and agree to float-sum order (~1e-12, equivalence-tested).
    """
    import pandas as pd

    from pyspark import StorageLevel

    hcols = (
        [F.col(c) for c in id_cols]
        if id_cols
        else [F.to_json(F.struct(F.col(cluster_col), F.col(vector_col)))]
    )
    # the sample hash is computed INTO the persisted projection so the
    # sample fetch below is a cache hit — sampling from a different
    # projection over `assigned` would miss the cache and re-run the
    # whole upstream pipeline (KMeans transform / DBSCAN labeling) once
    # more per call, which dbscan_grid_search multiplies by |grid|
    sdf = assigned.select(
        F.col(cluster_col).alias("__lbl"),
        F.col(vector_col).alias("__vec"),
        F.xxhash64(F.lit(42), *hcols).alias("__h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the input is typically an unpersisted KMeans transform over the
    # full table; without this persist the count, the sample fetch, and
    # the mapInPandas aggregation would each re-run the upstream pipeline
    n = sdf.count()
    if sample_size is not None and sample_size < n:
        sample = (
            sdf.orderBy("__h")
            .limit(sample_size)
            .select("__lbl", "__vec")
            .collect()
        )
    else:
        # sample == corpus (n <= s): the collect stays sample-bounded
        sample = sdf.select("__lbl", "__vec").collect()
    S = np.asarray([r["__vec"] for r in sample], dtype=np.float64)
    s_labels = np.asarray([r["__lbl"] for r in sample])
    s = len(S)
    sq_s = (S * S).sum(axis=1)
    sc = assigned.sparkSession.sparkContext
    b_sample = sc.broadcast(S)

    def part(batches):
        Sm = b_sample.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = V.stack_vectors(pdf["__vec"])
            D = np.sqrt(
                np.maximum(
                    sq_s[:, None] - 2.0 * (Sm @ X.T) + (X * X).sum(axis=1)[None, :],
                    0.0,
                )
            )
            lbl = pdf["__lbl"].to_numpy()
            out_l, out_p, out_v = [], [], []
            for lab in pd.unique(lbl):
                mask = lbl == lab
                sums = D[:, mask].sum(axis=1)
                out_l.extend([lab] * (s + 1))
                out_p.extend(range(s))
                out_p.append(-1)  # pos -1 carries the label's row count
                out_v.extend(sums.tolist())
                out_v.append(float(mask.sum()))
            yield pd.DataFrame({"l": out_l, "p": out_p, "v": out_v})

    lbl_type = assigned.schema[cluster_col].dataType.simpleString()
    agg = (
        sdf.select("__lbl", "__vec")  # cache-hit projection; drop __h
        .mapInPandas(part, schema=f"l {lbl_type}, p int, v double")
        .groupBy("l", "p")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    b_sample.unpersist()
    sdf.unpersist()

    labels_u = sorted({r["l"] for r in agg})
    if len(labels_u) < 2:
        raise ValueError(
            "silhouette requires 2 <= n_labels; got "
            f"{len(labels_u)} (b=inf/inf would yield NaN silently)"
        )
    lidx = {lab: i for i, lab in enumerate(labels_u)}
    k = len(labels_u)
    sums = np.zeros((k, s))
    counts = np.zeros(k)
    for r in agg:
        if r["p"] == -1:
            counts[lidx[r["l"]]] = r["v"]
        else:
            sums[lidx[r["l"]], r["p"]] = r["v"]
    own = np.array([lidx[lab] for lab in s_labels])
    rows = np.arange(s)
    own_counts = counts[own]
    a = np.where(own_counts > 1, sums[own, rows] / np.maximum(own_counts - 1, 1), 0.0)
    means = sums / counts[:, None]
    means[own, rows] = np.inf
    b = means.min(axis=0)
    sil = np.where(own_counts > 1, (b - a) / np.maximum(a, b), 0.0)
    return float(np.mean(sil))


def fit_and_evaluate(
    df: DataFrame,
    k: int,
    n_runs: int = 5,
    max_iter: int = 300,
    seed: int = 42,
) -> dict:
    """M5 — the reference's timing harness (nuevo-kmeans-pre.ipynb:284 c14):
    per-seed wall time mean±std + silhouette of the last fit."""
    times = []
    res = None
    for i in range(n_runs):
        t0 = time.time()
        res = kmeans_fit(df, k, max_iter=max_iter, seed=seed + i)
        times.append(time.time() - t0)
    assigned = res.assign(df, "embedding")
    return {
        "k": k,
        "mean_s": float(np.mean(times)),
        "std_s": float(np.std(times)),
        "inertia": res.inertia,
        "silhouette": silhouette_exact_distributed(assigned, "embedding", "cluster"),
    }
