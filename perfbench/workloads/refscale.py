"""refscale-pipeline: the thesis pipeline on a corpus in the reference shape.

5,755 chunks over 1,190 documents with k=37 clusters, as in the reference
(BASELINE.md), at a reduced embedding dimension (``DIM``) to keep a pass
short; much of its cost is its ~55 Spark jobs. Set-up writes the corpus as
parquet and the centroids as the reference's ``"[f, f, ...]"`` CSV. Each
pass reads them back through ``sources`` and runs the seven thesis stages
through ``operators``, ``functions.vector`` and ``plans``; ``entry`` is not
used. The primary operation is one full pass.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .. import datagen, stats
from ..harness import leak_check

DIM = 256
KMEANS_ITERS = 10
SILHOUETTE_SAMPLE = 2000

STAGES = (
    ("nearest_centroid", "operators"),
    ("analytics_prologue", "plans"),
    ("similarity", "operators"),
    ("outliers", "operators"),
    ("clustering.kmeans", "operators"),
    ("clustering.silhouette", "operators"),
    ("graph", "operators"),
)


class Refscale:
    name = "refscale-pipeline"
    primary = "pass"

    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.problems: list[str] = []

    # -- inputs ---------------------------------------------------------------

    def setup(self, rep: int) -> None:
        c = datagen.refscale_corpus(self.seed, DIM)
        d = os.path.join(self.work, f"refscale-{rep}")
        os.makedirs(d, exist_ok=True)
        n = len(c["vectors"])
        ids = [f"chk-{i:05d}" for i in range(n)]
        docs = [f"doc-{j:04d}" for j in c["doc_of_chunk"]]
        chunks = pa.table({
            "id": ids,
            "document_id": docs,
            "chunk_id": [f"{d_}/c{i}" for i, d_ in enumerate(docs)],
            "category": [str(x) for x in c["category"]],
            "content_vector": pa.array(list(c["vectors"]), pa.list_(pa.float32())),
        })
        pq.write_table(chunks, os.path.join(d, "chunks.parquet"))
        pd.DataFrame({
            "cluster_label": range(datagen.REF_K),
            "centroid": ["[" + ", ".join(repr(float(x)) for x in row) + "]" for row in c["centers"]],
            "etiqueta": [f"Etiqueta {k}" for k in range(datagen.REF_K)],
        }).to_csv(os.path.join(d, "centroids.csv"), index=False)
        self.dir, self.corpus = d, c
        self._expected()

    def _expected(self) -> None:
        """numpy answers for the checks: nearest-centroid argmin over the
        normalised float32 vectors, and the intra-document pair count."""
        x = self.corpus["vectors"].astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        cen = self.corpus["centers"].astype(np.float64)
        d2 = (x * x).sum(1)[:, None] - 2 * x @ cen.T + (cen * cen).sum(1)[None, :]
        order = np.sort(d2, axis=1)
        self.expect_label = np.argmin(d2, axis=1)
        # rows whose two nearest centroids tie within float32 noise may
        # legitimately go either way; they are excluded from the check
        self.label_decided = (order[:, 1] - order[:, 0]) > 1e-5
        per_doc = np.bincount(self.corpus["doc_of_chunk"])
        self.expect_pairs = int((per_doc * (per_doc - 1) // 2).sum())

    # -- one pass -------------------------------------------------------------

    def _pass(self) -> dict:
        from vector_search_optimization_spark.functions import vector as V
        from vector_search_optimization_spark.operators import (
            clustering as C, graph as G, nearest_centroid as NC, outliers as OUT,
            similarity as SIM,
        )
        from vector_search_optimization_spark.plans import analytics_prologue
        from vector_search_optimization_spark.sources import readers

        tr, spark = self.tracer, self.spark
        stage_s: dict[str, float] = {}
        out: dict = {}

        @contextmanager
        def stage(name: str, layer: str):
            with tr.span(name, layer):
                t0 = time.perf_counter()
                yield
                stage_s[name] = time.perf_counter() - t0

        with tr.span("pass", "bench") as rec:
            t_pass = time.perf_counter()
            with stage("read", "sources"):
                chunks = readers.read_chunks(spark, os.path.join(self.dir, "chunks.parquet"))
                chunks = chunks.select("id", "document_id", "category", "content_vector").persist()
                chunks.count()
                cents = readers.read_centroids_csv(spark, os.path.join(self.dir, "centroids.csv")).persist()
                cents.count()
            with stage("nearest_centroid", "operators"):
                with tr.span("l2_normalize_kernel", "functions"):
                    normed = chunks.withColumn("content_vector", V.l2_normalize_kernel("content_vector"))
                assigned = NC.nearest_centroid(normed, cents).persist()
                assigned.count()
            with stage("analytics_prologue", "plans"):
                analytics_prologue(chunks, cents).write.format("noop").mode("overwrite").save()
            with stage("similarity", "operators"):
                pairs = SIM.intra_group_pairs_kernel(chunks, "document_id", "id", "content_vector")
                out["buckets"] = SIM.similarity_buckets(pairs, "sim", 0.8).collect()[0]
            with stage("outliers", "operators"):
                out["z"] = OUT.zscore_outliers(assigned, "assigned_label", "assigned_dist").where("is_outlier").count()
                out["pct"] = OUT.percentile_outliers(assigned, "assigned_label", "assigned_dist").where("is_outlier").count()
                out["lof"] = OUT.lof_outliers(
                    assigned, "assigned_label", "content_vector", "id",
                    n_neighbors_frac=0.05, contamination=0.02,
                ).where("is_outlier").count()
            with stage("clustering.kmeans", "operators"):
                res = C.kmeans_fit(chunks, k=datagen.REF_K, n_init=1, max_iter=KMEANS_ITERS,
                                   seed=self.seed, vector_col="content_vector")
            with stage("clustering.silhouette", "operators"):
                out["silhouette"] = C.silhouette_exact(
                    res.assign(chunks, "content_vector"), "content_vector", "cluster",
                    sample_size=SILHOUETTE_SAMPLE,
                )
            with stage("graph", "operators"):
                _, edges = G.build_cluster_graph(assigned, "document_id", "assigned_label")
                out["communities"] = G.detect_communities(edges, weighted=True)["n_communities"]
            t = time.perf_counter() - t_pass
        out["inertia"] = res.inertia

        problems = self._check(assigned, out)
        for df in (assigned, cents, chunks):
            df.unpersist()
        op = {"kind": "pass", "name": "pass", "t": t, "ok": not problems,
              "err": "; ".join(problems) or None, "stage_s": stage_s,
              "span": rec["id"] if rec else None}
        leak_check(spark, op)
        return op

    def _check(self, assigned, out: dict) -> list[str]:
        problems = []
        got = assigned.select("id", "assigned_label").toPandas()
        idx = got["id"].str.slice(4).astype(int).to_numpy()
        label = np.empty(len(self.expect_label), dtype=np.int64)
        label[idx] = got["assigned_label"].to_numpy()
        wrong = (label != self.expect_label) & self.label_decided
        if len(got) != len(self.expect_label) or wrong.any():
            problems.append(f"nearest_centroid: {int(wrong.sum())} labels differ from numpy argmin")
        if int(out["buckets"]["n_pairs"]) != self.expect_pairs:
            problems.append(f"similarity: {out['buckets']['n_pairs']} intra-doc pairs, numpy {self.expect_pairs}")
        if not (-1.0 <= out["silhouette"] <= 1.0) or not np.isfinite(out["inertia"]) or out["communities"] < 1:
            problems.append(f"clustering/graph out of range: {out}")
        return problems

    # -- harness hooks --------------------------------------------------------

    def warm(self) -> float:
        op = self._pass()
        if not op["ok"]:
            self.problems.append(f"warm pass: {op['err']}")
        return op["t"]

    def round(self, r: int) -> list[dict]:
        return [self._pass()]

    def finish(self) -> list[str]:
        return self.problems

    def report(self, ops: list[dict], run: dict) -> dict:
        passes = [op for op in ops if op["ok"]]
        return {
            "shape": f"{datagen.REF_CHUNKS} chunks x {DIM} dims, {datagen.REF_DOCS} docs, k={datagen.REF_K}",
            "pipeline_s": {"value": stats.median([p["t"] for p in passes]), "unit": "s"},
            "stage_p50_s": {
                name: stats.median([p["stage_s"][name] for p in passes])
                for name in ("read",) + tuple(s for s, _ in STAGES)
            },
            "expected_intra_doc_pairs": self.expect_pairs,
        }

    def layers(self, ops: list[dict]) -> dict:
        return {}
