"""M1-M5 clustering invariant tests (SURVEY §4.3: no exact sklearn parity;
inertia tolerance + permutation equivalence + silhouette sanity)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import clustering as C
from vector_search_optimization_spark.sources import load_table


@pytest.fixture(scope="module")
def blobs(spark):
    """3 well-separated gaussian blobs — any correct kmeans recovers them."""
    rng = np.random.RandomState(0)
    centers = np.array([[0, 0, 0], [10, 10, 10], [-10, 5, -5]], dtype=float)
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(scale=0.5, size=3)
        rows.append((i, c, v.tolist()))
    return spark.createDataFrame(
        rows, "id long, true_c int, embedding array<float>"
    ).cache()


def test_kmeans_recovers_blobs(blobs):
    res = C.kmeans_fit(blobs, k=3, n_init=3, seed=1)
    assigned = res.assign(blobs, "embedding")
    # permutation equivalence: each predicted cluster maps to one true blob
    pairs = assigned.groupBy("true_c", "cluster").count().collect()
    mapping = {}
    for r in sorted(pairs, key=lambda r: -r["count"]):
        mapping.setdefault(r["true_c"], r["cluster"])
    assert len(set(mapping.values())) == 3
    total = assigned.count()
    correct = sum(
        r["count"] for r in pairs if mapping[r["true_c"]] == r["cluster"]
    )
    assert correct / total > 0.99


def test_inertia_close_to_true_centers(blobs):
    res = C.kmeans_fit(blobs, k=3, n_init=2, seed=1)
    pdf = blobs.toPandas()
    X = np.asarray(pdf.embedding.tolist(), dtype=float)
    cm = np.asarray(res.centers, dtype=float)
    d2 = ((X[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2).min(axis=1)
    assert res.inertia == pytest.approx(d2.sum(), rel=1e-6)


def test_restarts_never_worse(blobs):
    one = C.kmeans_fit(blobs, k=5, seed=3)
    many = C.kmeans_fit(blobs, k=5, n_init=4, seed=3)
    assert many.inertia <= one.inertia + 1e-9


def test_silhouette_exact_separated_blobs(blobs):
    res = C.kmeans_fit(blobs, k=3, seed=1)
    assigned = res.assign(blobs, "embedding")
    sil = C.silhouette_exact(assigned, "embedding", "cluster", sample_size=None)
    assert sil > 0.9  # well-separated blobs → near-1 silhouette
    sampled = C.silhouette_exact(assigned, "embedding", "cluster", sample_size=100)
    assert sampled == pytest.approx(sil, abs=0.05)


def test_silhouette_distributed_equals_numpy_full(blobs):
    """Full-silhouette equivalence: the executor-side partial-sum rework
    must reproduce the collecting numpy kernel to float-sum order."""
    res = C.kmeans_fit(blobs, k=3, seed=1)
    assigned = res.assign(blobs, "embedding")
    ref = C.silhouette_exact(assigned, "embedding", "cluster", sample_size=None)
    dist = C.silhouette_exact_distributed(
        assigned, "embedding", "cluster", sample_size=None
    )
    assert dist == pytest.approx(ref, abs=1e-9)
    # n <= s branch must hit the same numbers too
    dist2 = C.silhouette_exact_distributed(assigned, "embedding", "cluster")
    assert dist2 == pytest.approx(ref, abs=1e-9)


def test_silhouette_distributed_sampled_close(blobs):
    """Hash-sampling is a different seeded sample than the positional one,
    so demand closeness (sampling noise), determinism, and no full collect
    of vectors beyond the sample."""
    res = C.kmeans_fit(blobs, k=3, seed=1)
    assigned = res.assign(blobs, "embedding")
    full = C.silhouette_exact(assigned, "embedding", "cluster", sample_size=None)
    s1 = C.silhouette_exact_distributed(
        assigned, "embedding", "cluster", sample_size=100, id_cols=["id"]
    )
    s2 = C.silhouette_exact_distributed(
        assigned, "embedding", "cluster", sample_size=100, id_cols=["id"]
    )
    assert s1 == s2  # seeded determinism
    assert s1 == pytest.approx(full, abs=0.05)


def test_fit_and_evaluate_harness(blobs):
    """M5 — the reference's timing harness shape (mean±std over seeded runs
    + silhouette, nuevo-kmeans-pre.ipynb:284 c14)."""
    out = C.fit_and_evaluate(blobs, k=3, n_runs=2, max_iter=20, seed=5)
    assert set(out) == {"k", "mean_s", "std_s", "inertia", "silhouette"}
    assert out["mean_s"] > 0 and out["std_s"] >= 0
    assert out["silhouette"] > 0.9  # separated blobs


def test_centroids_df_and_assign_roundtrip(blobs, spark):
    res = C.kmeans_fit(blobs, k=3, seed=1)
    cents = res.centroids_df(spark)
    assert cents.count() == 3
    assert cents.schema["centroid"].dataType.simpleString() == "array<float>"
