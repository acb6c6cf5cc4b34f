"""Nearest-centroid join — the engine's signature vector-search operator.

Reference semantics (SURVEY §2.3 J7, §2.5 W4, §2.9 M12):
- batch assign: iterrows loop computing ``np.linalg.norm(centroides -
  embedding, axis=1)`` + argmin (main-script1.ipynb:310 c15);
- online classify: ``cdist([embedding], centroids)`` + ``np.argmin``
  (``classify_embedding``, nuevo-kmeans-pre.ipynb:16 c1);
- euclidean variant inside the labeling ETL (update-etiquetas.ipynb:171 c9).

Two formulations, equivalence-tested against each other:

1. ``nearest_centroid`` (default, scale path): Arrow-batched pandas UDF over
   a broadcast (k x dim) centroid matrix. ZERO shuffle — the fact table
   streams through map tasks, each batch does one BLAS matmul/argmin against
   the broadcast matrix. At 100 TB this is the only formulation that works:
   the n x k blow-up never materializes and the wide vectors never shuffle.

2. ``nearest_centroid_crossjoin`` (declarative oracle): broadcast cross-join
   + squared-euclidean expression + min_by. Pure Catalyst (codegen'd,
   AQE-planned); materializes n x k rows pre-aggregation, fine for k<=100s.

Ties broken by lowest cluster_label in both (np.argmin takes the first).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V

_METRICS = ("euclidean", "sqeuclidean", "cosine", "manhattan")


def _pairwise(mat: np.ndarray, cents: np.ndarray, metric: str) -> np.ndarray:
    """(n, d) x (k, d) -> (n, k) distances, vectorized numpy (BLAS)."""
    if metric in ("euclidean", "sqeuclidean"):
        # ||a-b||^2 = ||a||^2 - 2ab + ||b||^2, one GEMM for the cross term
        sq = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * (mat @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        np.maximum(sq, 0.0, out=sq)
        return sq if metric == "sqeuclidean" else np.sqrt(sq)
    if metric == "cosine":
        na = np.linalg.norm(mat, axis=1)[:, None]
        nb = np.linalg.norm(cents, axis=1)[None, :]
        denom = na * nb
        denom[denom == 0.0] = np.nan
        return 1.0 - (mat @ cents.T) / denom
    if metric == "manhattan":
        # chunked to bound the (n, k, d) intermediate
        out = np.empty((mat.shape[0], cents.shape[0]))
        step = max(1, 1_000_000 // max(1, cents.size))
        for i in range(0, mat.shape[0], step):
            out[i : i + step] = np.abs(
                mat[i : i + step, None, :] - cents[None, :, :]
            ).sum(axis=2)
        return out
    raise ValueError(f"unknown metric {metric!r}; one of {_METRICS}")


def _ascending(v) -> tuple:
    """Sort key reproducing Spark's ascending order: nulls first, NaN
    after every other value."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    return (1, v)


def nearest_centroid(
    df: DataFrame,
    centroids: DataFrame,
    vector_col: str = "content_vector",
    label_col: str = "cluster_label",
    metric: str = "euclidean",
    out_label: str = "assigned_label",
    out_dist: str = "assigned_dist",
) -> DataFrame:
    """Assign every row to its nearest centroid (scale path, no shuffle).

    The centroid table is collected to the driver (it is small by
    construction — k clusters), sorted there by label in Spark's
    ascending order (nulls first, NaN last) so ties keep going to the
    lowest label, and shipped to executors inside the UDF closure; Spark
    broadcasts the serialized closure once per executor. Sorting on the
    driver spares the range-partitioned sort's sampling job and shuffle:
    over a driver-local centroid frame (a LocalRelation) the build fires
    no Spark job.
    """
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {_METRICS}")
    cent_rows = sorted(
        centroids.select(label_col, "centroid").collect(),
        key=lambda r: _ascending(r[0]),
    )
    labels = np.array([r[0] for r in cent_rows])
    cents = np.array([r[1] for r in cent_rows], dtype=np.float64)

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(out_label, T.LongType()),
            T.StructField(out_dist, T.DoubleType()),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_label: [], out_dist: []})
                continue
            mat = V.stack_vectors(pdf[vector_col])
            dists = _pairwise(mat, cents, metric)
            # all-NaN rows (e.g. zero vector under cosine) take the first
            # centroid with a NaN distance instead of raising
            all_nan = np.isnan(dists).all(axis=1)
            safe = np.where(all_nan[:, None], 0.0, dists)
            arg = np.nanargmin(safe, axis=1)
            out_d = dists[np.arange(len(arg)), arg]
            yield pdf.assign(
                **{
                    out_label: labels[arg],
                    out_dist: np.where(all_nan, np.nan, out_d),
                }
            )

    return df.mapInPandas(assign, schema=out_schema)


def nearest_centroid_crossjoin(
    df: DataFrame,
    centroids: DataFrame,
    vector_col: str = "content_vector",
    metric: str = "euclidean",
) -> DataFrame:
    """Declarative formulation: broadcast cross-join + min_by.

    Correctness oracle for the UDF path, and the better plan when the fact
    side is narrow or k is tiny: Catalyst keeps the whole thing in one
    codegen'd stage (BroadcastNestedLoopJoin -> partial min_by), so there is
    still no shuffle of the fact table — only the k-row centroid broadcast.
    """
    rank_metric = "sqeuclidean" if metric == "euclidean" else metric
    with_id = df.withColumn("__rid", F.monotonically_increasing_id())
    cand = with_id.crossJoin(
        F.broadcast(
            centroids.select(
                F.col("cluster_label").alias("__cl"), F.col("centroid").alias("__cv")
            )
        )
    ).withColumn("__dist", V.distance(vector_col, "__cv", rank_metric))

    # group on a synthetic row id, not the payload columns: duplicates
    # survive and the wide vector column never becomes a grouping key
    best = cand.groupBy("__rid").agg(
        *[F.first(c).alias(c) for c in df.columns],
        F.min_by(F.col("__cl"), F.struct("__dist", "__cl"))
        .cast("long")
        .alias("assigned_label"),
        F.min("__dist").alias("assigned_dist"),
    ).drop("__rid")
    if metric == "euclidean":
        best = best.withColumn("assigned_dist", F.sqrt(F.col("assigned_dist")))
    return best
