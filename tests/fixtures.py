"""FIXTURES.md generators — reference-shaped test inputs (seed=42).

F1 chunks: ~600 chunks over ~120 docs, ~50% single-chunk docs with a heavy
tail, 12 latent clusters at dim 8, category/content_type distributions
shaped like the thesis corpus (FIXTURES.md F1).
F2 centroids: the 12 true generator centers, both parquet-shaped (array)
and CSV-shaped ("[f, f, ...]" strings).

Also ``jobs_in_group``, the Spark-job counter the job-count pins share,
and ``run_stream_to_memory``, the harness the streaming tests drive a
bounded stream through.
"""

from __future__ import annotations

import numpy as np

CONTENT_TYPES = ["pdf", "aspx", "xlsx", "pptx", "docx", "png", "jpg", "html", "doc", "odt"]
CT_WEIGHTS = [0.30, 0.22, 0.08, 0.10, 0.08, 0.05, 0.05, 0.06, 0.03, 0.03]
CATEGORIES = ["document", "site", "calendar", "table"]
CAT_WEIGHTS = [3404, 676, 1601, 74]
K = 12
DIM = 8
N_DOCS = 120


def make_chunks_and_centroids(spark, seed: int = 42):
    rng = np.random.RandomState(seed)
    centers = rng.normal(size=(K, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    cat_p = np.array(CAT_WEIGHTS, dtype=float)
    cat_p /= cat_p.sum()

    rows = []
    chunk_i = 0
    for d in range(N_DOCS):
        # ~50% single-chunk docs, heavy tail to ~40 (FIXTURES F1)
        n_chunks = 1 if rng.rand() < 0.5 else min(40, 1 + rng.geometric(0.25))
        ct = rng.choice(CONTENT_TYPES, p=CT_WEIGHTS)
        cat = rng.choice(CATEGORIES, p=cat_p)
        cluster = rng.randint(0, K)
        doc_id = f"doc-{d:04d}"
        for n in range(n_chunks):
            vec = centers[cluster] + rng.normal(scale=0.15, size=DIM)
            rows.append(
                (
                    f"chk-{chunk_i:05d}",
                    doc_id,
                    f"{doc_id}/c{n}",
                    f"lorem chunk {chunk_i} " * int(rng.randint(2, 20)),
                    str(ct),
                    str(cat),
                    vec.astype(np.float32).tolist(),
                    f"/corpus/{ct}/{doc_id}.{ct}",
                    f"{doc_id}.{ct}",
                    int(cluster),
                )
            )
            chunk_i += 1

    chunks = spark.createDataFrame(
        rows,
        "id string, document_id string, chunk_id string, content string, "
        "content_type string, category string, content_vector array<float>, "
        "original_path string, document_name string, true_cluster int",
    )
    centroids = spark.createDataFrame(
        [
            (k, centers[k].astype(np.float32).tolist(), f"Etiqueta {k}, Tema {k}")
            for k in range(K)
        ],
        "cluster_label int, centroid array<float>, etiqueta string",
    )
    return chunks, centroids


def jobs_in_group(spark, group: str, build) -> tuple:
    """(Spark job ids ``build()`` fires under its own job group, its
    result); the listener bus is drained first, so no job is missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


def run_stream_to_memory(stream_df, name: str, output_mode: str = "append"):
    """Drive a bounded stream to completion into an in-memory table and
    return it as a DataFrame."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
