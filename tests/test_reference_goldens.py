"""FIXTURES.md golden queries 1-5 on the reference-shaped fixture corpus.

These are the end-to-end parity checks SURVEY §5.2 prescribes: each runs a
full reference pipeline on F1/F2-shaped data and validates against an
independent pandas/numpy replica (the role the thesis' inline sanity
checks played).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.fixtures import K, make_chunks_and_centroids
from vector_search_optimization_spark.functions import vector as V
from vector_search_optimization_spark.operators import graph as G
from vector_search_optimization_spark.operators import outliers as OUT
from vector_search_optimization_spark.operators import similarity as SIM
from vector_search_optimization_spark.plans import (
    FakeChatModel,
    analytics_prologue,
    cluster_label_pipeline,
)


@pytest.fixture(scope="module")
def fixture_data(spark):
    chunks, centroids = make_chunks_and_centroids(spark)
    return chunks.cache(), centroids.cache()


@pytest.fixture(scope="module")
def chunks_pdf(fixture_data):
    chunks, _ = fixture_data
    return chunks.toPandas()


def test_golden_1_prologue_vs_pandas(fixture_data, chunks_pdf):
    """Golden 1: normalise → nearest centroid → per-(cluster, category)
    report, replicated row-for-row in pandas/numpy."""
    chunks, centroids = fixture_data
    report = (
        analytics_prologue(chunks, centroids)
        .toPandas()
        .sort_values(["assigned_label", "category"], ignore_index=True)
    )

    cents = np.array(
        centroids.orderBy("cluster_label").toPandas().centroid.tolist(), dtype=np.float64
    )
    X = np.array(chunks_pdf.content_vector.tolist(), dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    d = ((Xn[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assigned = d.argmin(axis=1)

    expect = (
        chunks_pdf.assign(assigned_label=assigned)
        .groupby(["assigned_label", "category"])
        .agg(n_chunks=("id", "count"), n_docs=("document_id", "nunique"))
        .reset_index()
    )
    expect["pct"] = (
        expect.n_chunks
        / expect.groupby("assigned_label").n_chunks.transform("sum")
        * 100
    ).round(1)
    expect = expect.sort_values(["assigned_label", "category"], ignore_index=True)

    assert len(report) == len(expect)
    assert (report.assigned_label.values == expect.assigned_label.values).all()
    assert (report.category.values == expect.category.values).all()
    assert (report.n_chunks.values == expect.n_chunks.values).all()
    assert (report.n_docs.values == expect.n_docs.values).all()
    # atol 0.11: Spark rounds HALF_UP, pandas half-even — exact .x5 ties
    # land one last-digit apart (e.g. 56.25 -> 56.3 vs 56.2)
    assert np.allclose(report.pct.values, expect.pct.values, atol=0.11)


def test_golden_2_intra_doc_similarity(fixture_data, chunks_pdf):
    """Golden 2: per-doc pairwise cosine buckets + single-chunk share
    (chunk_similarities.ipynb report shape)."""
    chunks, _ = fixture_data
    pairs = SIM.intra_group_pairs_kernel(chunks, "document_id", "id", "content_vector")
    got = SIM.similarity_buckets(pairs, "sim", 0.8).collect()[0]

    X = np.array(chunks_pdf.content_vector.tolist(), dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    n_pairs = n_above = 0
    for _, grp in chunks_pdf.groupby("document_id"):
        if len(grp) < 2:
            continue
        sims = Xn[grp.index] @ Xn[grp.index].T
        iu = np.triu_indices(len(grp), k=1)
        n_pairs += len(iu[0])
        n_above += int((sims[iu] > 0.8).sum())
    assert got["n_pairs"] == n_pairs
    assert got["n_above"] == n_above

    single = (chunks_pdf.groupby("document_id").size() == 1).mean()
    assert 0.3 < single < 0.7  # fixture targets ~50% single-chunk docs


def test_golden_3_outlier_suite_consistency(fixture_data):
    """Golden 3: z>3 flags are a subset of the 95th-percentile flags'
    spirit — both computed per true cluster; planted-free data keeps rates
    near nominal."""
    chunks, centroids = fixture_data
    with_dist = chunks.join(
        F.broadcast(centroids), chunks.true_cluster == centroids.cluster_label
    ).withColumn("dist", V.euclidean("content_vector", "centroid"))
    z = OUT.zscore_outliers(with_dist, "true_cluster", "dist")
    z_rate = z.where("is_outlier").count() / z.count()
    assert z_rate < 0.02  # gaussian tails: ~0.1-0.3% beyond 3 sigma
    p = OUT.percentile_outliers(with_dist, "true_cluster", "dist")
    p_rate = p.where("is_outlier").count() / p.count()
    assert 0.02 < p_rate < 0.08  # ~5% by construction


def test_golden_4_cluster_graph(fixture_data, chunks_pdf):
    """Golden 4: weighted co-occurrence edges vs a pandas replica, then
    community detection on the tiny graph."""
    chunks, centroids = fixture_data
    from vector_search_optimization_spark.operators.nearest_centroid import (
        nearest_centroid,
    )

    assigned = nearest_centroid(chunks, centroids)
    verts, edges = G.build_cluster_graph(assigned, "document_id", "assigned_label")
    got = {(r.src, r.dst): r.weight for r in edges.collect()}

    cents = np.array(
        centroids.orderBy("cluster_label").toPandas().centroid.tolist(), dtype=np.float64
    )
    X = np.array(chunks_pdf.content_vector.tolist(), dtype=np.float64)
    lab = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    expect: dict = {}
    for _, grp in chunks_pdf.assign(c=lab).groupby("document_id"):
        cl = sorted(set(grp.c))
        for i in range(len(cl)):
            for j in range(i + 1, len(cl)):
                expect[(cl[i], cl[j])] = expect.get((cl[i], cl[j]), 0) + 1
    assert got == expect

    res = G.detect_communities(edges, vertices_df=verts)
    assert sum(len(c) for c in res["communities"]) == K


def test_golden_5_labeling_etl(fixture_data):
    """Golden 5: EP3 with fake LLM — k clusters labeled, writeback covers
    every non-null-vector row, audit totals preserved."""
    chunks, _ = fixture_data
    llm = FakeChatModel(template="etiqueta-{n}")
    res = cluster_label_pipeline(
        chunks, k=K, llm=llm, sample_k=10, seed=7
    )
    assert len(res["labels"]) == K == len(llm.calls)
    audit = res["audit"].toPandas()
    assert audit.n_docs.sum() == chunks.count()
    assert set(audit.etiqueta_cluster) == set(res["labels"].values())
    # every prompt respects the (chars≈4/token) budget
    assert all(len(c) <= 125_000 * 4 for c in llm.calls)
