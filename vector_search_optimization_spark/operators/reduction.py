"""Dimensionality reduction (SURVEY §2.9 M10-M11).

- PCA 2D/3D + explained variance (nuevo-kmeans-pre.ipynb:520 c26): a
  deterministic eigh basis from a bounded sample (pca_components_numpy),
  applied as plan-literal projections by the m9/m10 queries.
- UMAP 2D/3D (nuevo-kmeans-pre.ipynb:689 c31): no distributed equivalent;
  driver-side stage over a bounded sample (SURVEY §4.3). umap-learn when
  installed; otherwise a deterministic Laplacian-eigenmaps spectral
  embedding — the same neighbor-graph manifold family, and literally
  UMAP's own initialization — so the operator WORKS in this container
  rather than raising (the strict raise contract stays reachable via
  fallback=False).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..session import bounded_collect


def pca_components_numpy(
    X: np.ndarray, n_components: int
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic PCA basis from a (bounded) sample: eigh of the
    covariance, eigenvalue-descending, each component's sign fixed so its
    largest-|coordinate| entry is positive.

    Shared by the m9 query's plan-literal projection and its DuckDB
    oracle generator — both sides must produce the *same* basis, which
    MLlib's SVD-based PCA can't guarantee across engines. Returns
    (mean, components) with projection = (x - mean) @ components.T.
    """
    X = np.asarray(X, dtype=np.float64)
    mu = X.mean(axis=0)
    w, v = np.linalg.eigh(np.atleast_2d(np.cov(X, rowvar=False)))
    order = np.argsort(w, kind="stable")[::-1][:n_components]
    comps = v[:, order].T.copy()
    for i in range(len(comps)):
        if comps[i, np.argmax(np.abs(comps[i]))] < 0:
            comps[i] = -comps[i]
    return mu, comps


def spectral_embedding_numpy(
    X: np.ndarray, n_components: int = 2, n_neighbors: int = 15
) -> np.ndarray:
    """Deterministic Laplacian-eigenmaps embedding (Belkin & Niyogi '03)
    — the manifold embedding UMAP itself uses as its initialization.

    kNN graph on euclidean distance (ties broken by index), symmetrized
    by max; heat-kernel weights scaled by the median positive kNN
    distance; bottom non-trivial eigenvectors of the symmetric
    normalized Laplacian via ``eigh`` (deterministic), sign-fixed like
    the PCA basis. Dense O(n²) memory — a driver-side stage for the
    reference's ≤10k-row envelope, like silhouette_exact.
    """
    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    if n < 2:
        return np.zeros((n, n_components))
    k = min(n_neighbors, n - 1)
    sq = np.sum(X * X, axis=1)
    d2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (X @ X.T), 0.0)
    np.fill_diagonal(d2, np.inf)
    # k nearest per row; argsort (stable) breaks ties by index
    nn = np.argsort(d2, axis=1, kind="stable")[:, :k]
    w = np.zeros((n, n))
    rows = np.repeat(np.arange(n), k)
    cols = nn.ravel()
    knn_d2 = d2[rows, cols]
    pos = knn_d2[knn_d2 > 0]
    scale = np.median(pos) if len(pos) else 1.0
    w[rows, cols] = np.exp(-knn_d2 / max(scale, 1e-12))
    w = np.maximum(w, w.T)  # symmetrize
    deg = w.sum(axis=1)
    deg_is = 1.0 / np.sqrt(np.maximum(deg, 1e-12))
    lap = np.eye(n) - (deg_is[:, None] * w * deg_is[None, :])
    vals, vecs = np.linalg.eigh(lap)
    order = np.argsort(vals, kind="stable")
    comps = vecs[:, order[1 : n_components + 1]].T  # skip the trivial vector
    out = []
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c = -c
        out.append(c)
    return np.asarray(out).T


def umap_project(
    df: DataFrame,
    max_rows: int = 10_000,
    fallback: bool = True,
    **umap_kwargs,
) -> DataFrame:
    """M11 — neighbor-graph manifold embedding on the driver over
    collected vectors (non-distributed stage; the reference runs UMAP on
    <=10k rows, nuevo-kmeans-pre.ipynb:689 c31).

    Uses umap-learn when installed. When absent (this container), falls
    back to the deterministic spectral embedding above — the same
    neighbor-graph family (and UMAP's own init) — unless
    ``fallback=False``, which preserves the explicit
    NotImplementedError contract. The output column is ``umap`` either
    way; ``method`` records which path ran.
    """
    try:
        import umap  # noqa: F401

        have_umap = True
    except ImportError:
        have_umap = False
        if not fallback:
            raise NotImplementedError(
                "umap-learn is not installed; UMAP is a driver-side "
                "optional stage (SURVEY §2.9 M11). Install umap-learn or "
                "use fallback=True for the spectral embedding."
            ) from None

    rows = bounded_collect(df.select("vec_id", "embedding"), max_rows)
    X = np.asarray([r.embedding for r in rows], dtype=np.float64)
    if have_umap:  # pragma: no cover - env without umap
        emb = umap.UMAP(n_components=2, **umap_kwargs).fit_transform(X)
        method = "umap"
    else:
        emb = spectral_embedding_numpy(X, 2, umap_kwargs.get("n_neighbors", 15))
        method = "spectral"
    out = pd.DataFrame({"vec_id": [r.vec_id for r in rows]})
    out["umap"] = [row.tolist() for row in np.asarray(emb, dtype=np.float64)]
    out["method"] = method
    return df.sparkSession.createDataFrame(out)
