"""Reference-scale smoke benchmark (BASELINE.md engine target #3).

Reproduces the reference workload *shape* — 5,755 chunks x 3,072-dim
embeddings, k=37 clusters (silhouettes.ipynb:361 c16,
main-script1-extenso(1er).ipynb:293 c14, cluster_creator.py:18) — on
synthetic data generated in-process (seed=42; /root/testdata is untouched),
and times the pipeline stages the thesis actually ran:

  1. normalise + nearest-centroid assign (EP2 batch variant)
  2. prologue report (counts + proportion window)
  3. intra-document pairwise similarity buckets (chunk_similarities)
  4. z-score + percentile + LOF outliers
  5. KMeans k=37 fit (1 restart) + silhouette (sampled)
  6. co-occurrence graph edges + community detection

Prints one JSON line {"stages": {...}, "total_s": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import vector as V
from vector_search_optimization_spark.operators import (
    clustering as C,
    graph as G,
    nearest_centroid as NC,
    outliers as OUT,
    similarity as SIM,
)
from vector_search_optimization_spark.plans import analytics_prologue
from vector_search_optimization_spark.session import get_spark

N_CHUNKS = 5_755
N_DOCS = 1_190
DIM = 3_072
K = 37


def synthesize(spark):
    rng = np.random.RandomState(42)
    centers = rng.normal(size=(K, DIM)).astype(np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    doc_cluster = rng.randint(0, K, size=N_DOCS)
    doc_of_chunk = np.concatenate(
        [np.arange(N_DOCS), rng.randint(0, N_DOCS, size=N_CHUNKS - N_DOCS)]
    )
    cats = np.array(["document", "calendar", "site", "table"])
    cat_of_doc = cats[rng.choice(4, size=N_DOCS, p=[0.59, 0.28, 0.115, 0.015])]

    # noise scaled by 1/sqrt(dim): keeps ||noise|| ~ 0.25 against unit-norm
    # centers, mirroring the tight thesis clusters (55.66% intra-doc cosine
    # pairs > 0.8)
    sigma = 0.25 / np.sqrt(DIM)

    # 80% chunks on the doc's home cluster, 20% elsewhere — documents
    # straddle clusters, which is what the co-occurrence graph measures.
    # All draws are vectorized (seeded, deterministic): one uniform + one
    # alternate-cluster vector + one (n, dim) gaussian block, then a single
    # Arrow-path createDataFrame — the boxed per-row generator cost ~14s of
    # the smoke total for pure driver-side python.
    import pandas as pd

    home = doc_cluster[doc_of_chunk]
    alt = rng.randint(0, K, size=N_CHUNKS)
    c_of_chunk = np.where(rng.rand(N_CHUNKS) < 0.8, home, alt)
    vecs = (
        centers[c_of_chunk]
        + rng.normal(scale=sigma, size=(N_CHUNKS, DIM)).astype(np.float32)
    ).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "id": [f"chk-{i:05d}" for i in range(N_CHUNKS)],
            "document_id": [f"doc-{d:04d}" for d in doc_of_chunk],
            "category": [str(c) for c in cat_of_doc[doc_of_chunk]],
            "content_vector": list(vecs),
        }
    )
    chunks = spark.createDataFrame(
        pdf, "id string, document_id string, category string, content_vector array<float>"
    ).repartition(32).persist()
    chunks.count()
    cents = spark.createDataFrame(
        [(i, centers[i].tolist()) for i in range(K)],
        "cluster_label int, centroid array<float>",
    )
    return chunks, cents


def main():
    spark = get_spark("reference_scale_smoke")
    stages: dict[str, float] = {}
    t_all = time.time()

    t0 = time.time()
    chunks, cents = synthesize(spark)
    stages["synthesize_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    assigned = NC.nearest_centroid(
        chunks.withColumn("content_vector", V.l2_normalize("content_vector")),
        cents,
    ).persist()
    assigned.count()
    stages["nearest_centroid_5755x37x3072_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    analytics_prologue(chunks, cents).write.format("noop").mode("overwrite").save()
    stages["prologue_report_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = SIM.intra_group_pairs_kernel(
        chunks, "document_id", "id", "content_vector"
    )
    buckets = SIM.similarity_buckets(pairs, "sim", 0.8).collect()[0]
    stages["intra_doc_similarity_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    OUT.zscore_outliers(assigned, "assigned_label", "assigned_dist").where(
        "is_outlier"
    ).count()
    OUT.percentile_outliers(assigned, "assigned_label", "assigned_dist").where(
        "is_outlier"
    ).count()
    OUT.lof_outliers(
        assigned, "assigned_label", "content_vector", "id",
    ).where("is_outlier").count()
    stages["outlier_suite_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    res = C.kmeans_fit(chunks, k=K, max_iter=100,
                       vector_col="content_vector")
    stages["kmeans_k37_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    sil = C.silhouette_exact(
        res.assign(chunks, "content_vector"), "content_vector", "cluster",
    )
    stages["silhouette_sampled_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    _, edges = G.build_cluster_graph(assigned, "document_id", "assigned_label")
    comm = G.detect_communities(edges)
    stages["graph_stage_s"] = round(time.time() - t0, 2)

    print(
        json.dumps(
            {
                "workload": f"{N_CHUNKS}x{DIM}, k={K} (reference shape)",
                "stages": stages,
                "total_s": round(time.time() - t_all, 2),
                "checks": {
                    "n_pairs": int(buckets["n_pairs"]),
                    "pct_above_0.8": float(buckets["pct_above"]),
                    "kmeans_inertia": round(res.inertia, 1),
                    "silhouette": round(sil, 4),
                    "n_communities": comm["n_communities"],
                    "modularity": round(comm["modularity"], 4),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
