"""Pairwise-similarity operators (SURVEY §2.3 J8-J10).

- ``intra_group_pairs``: all-pairs cosine within a group, upper triangle —
  the chunk-similarity audit (chunk_similarities.ipynb:447 c21: per-document
  ``cosine_similarity`` + ``np.triu_indices``).
- ``similarity_buckets``: the >threshold / <=threshold report on those pairs
  (same cell; reference reports 55.66% of 346,486 pairs > 0.8).
- ``distance_matrix``: small-table all-pairs distances
  (``squareform(pdist(...))`` over 37 centroids, main-script1.ipynb:1009 c35).
- ``cooccurrence_edges``: weighted cluster co-occurrence graph edges
  (analisis-informe.ipynb:2558 c76).

Scale notes: the self-join shuffles both sides on the group key once; AQE
skew-join splits hot groups (a pathological group with m rows produces
m(m-1)/2 pairs — the reference's worst group was a few hundred chunks). For
corpora where even that is too hot, cap with the LSH path in operators.dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V


def intra_group_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    """All unordered pairs (i < j by id) within each group, with similarity.

    Returns: group_col, id_a, id_b, sim (cosine similarity). Declarative
    self-join: Catalyst plans a shuffled hash join on the group key, pair
    generation and the similarity expression run codegen'd — no Python in
    the loop.
    """
    left = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("id_a"),
        F.col(vector_col).alias("__va"),
    )
    right = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("id_b"),
        F.col(vector_col).alias("__vb"),
    )
    pairs = left.join(right, "__g").where(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        F.col("__g").alias(group_col),
        "id_a",
        "id_b",
        V.cosine_similarity("__va", "__vb").alias("sim"),
    )


def intra_group_pairs_kernel(
    df: DataFrame,
    group_col: str,
    id_col: str,
    vector_col: str,
    min_sim: float | None = None,
) -> DataFrame:
    """BLAS formulation of intra_group_pairs: one numpy kernel per group.

    Semantics identical to the declarative self-join (equivalence-tested);
    this is the throughput path — the per-group m x m similarity matrix is
    one GEMM instead of m^2/2 interpreted array expressions. One shuffle on
    the group key (same as the join), Arrow both ways. Groups must fit in a
    task's memory (m^2 doubles) — the reference's worst group is a few
    hundred rows; cap pathological groups upstream if needed.

    ``min_sim`` pushes a similarity threshold INTO the kernel: pairs
    below it are dropped before the Arrow transfer, so a dense-duplicate
    group emits only its qualifying pairs instead of m²/2 rows (the r6
    scale probe measured the un-pushed transfer dominating semantic
    dedup on clustered corpora). Callers that later compare
    ``round(sim, p) >= t`` must pass a CONSERVATIVE bound (t - 5·10^-p-1
    or slacker) and keep their exact post-filter — the kernel cut is a
    prefilter, not the decision.
    """
    import numpy as np
    import pandas as pd

    id_field = df.schema[id_col]
    g_field = df.schema[group_col]
    out_schema = T.StructType(
        [
            T.StructField(group_col, g_field.dataType),
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    group_col: pdf[group_col][:0],
                    "id_a": pdf[id_col][:0],
                    "id_b": pdf[id_col][:0],
                    "sim": pd.Series([], dtype="float64"),
                }
            )
        pdf = pdf.sort_values(id_col, ignore_index=True)
        mat = V.stack_vectors(pdf[vector_col])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = np.nan
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(m, k=1)
        vals = sims[iu, ju]
        if min_sim is not None:
            keep = vals >= min_sim
            iu, ju, vals = iu[keep], ju[keep], vals[keep]
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                group_col: np.repeat(pdf[group_col].iloc[0], len(iu)),
                "id_a": ids[iu],
                "id_b": ids[ju],
                "sim": vals,
            }
        )

    return df.select(group_col, id_col, vector_col).groupBy(group_col).applyInPandas(
        kernel, schema=out_schema
    )


def similarity_buckets(
    pairs: DataFrame, sim_col: str = "sim", threshold: float = 0.8
) -> DataFrame:
    """Bucket report over a pair table (A11): counts and percentages above /
    at-or-below the threshold. One-row result."""
    total = F.count(F.lit(1))
    above = F.sum(F.when(F.col(sim_col) > threshold, 1).otherwise(0))
    return pairs.agg(
        total.alias("n_pairs"),
        above.cast("long").alias("n_above"),
        (total - above).cast("long").alias("n_below"),
        F.round(above / total * 100.0, 2).alias("pct_above"),
    )


def distance_matrix(df: DataFrame, id_col: str, vector_col: str) -> DataFrame:
    """All-pairs euclidean distances as (id_a, id_b, dist) — the relational
    form of ``squareform(pdist(...))``. Intended for small tables
    (centroids); both sides broadcast-able."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("__vb"))
    return a.crossJoin(F.broadcast(b)).select(
        "id_a", "id_b", V.euclidean("__va", "__vb").alias("dist")
    )


def cooccurrence_edges(
    df: DataFrame, group_col: str, node_col: str
) -> DataFrame:
    """J10/G1 — weighted co-occurrence edges.

    For each group (document), every unordered pair of distinct node values
    (clusters) found in it contributes 1 to that edge's weight — the graph
    built at analisis-informe.ipynb:2558 c76 (nodes = clusters, weight =
    number of shared documents).

    Plan: collapse to distinct (group, node) first (one partial-agg shuffle,
    heavily combinable), then self-join on the group. The node set per group
    is small (<= k clusters), so the join fan-out is bounded by k^2, not by
    group row counts.
    """
    nodes = df.select(group_col, node_col).distinct()
    a = nodes.select(F.col(group_col).alias("__g"), F.col(node_col).alias("src"))
    b = nodes.select(F.col(group_col).alias("__g"), F.col(node_col).alias("dst"))
    return (
        a.join(b, "__g")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
