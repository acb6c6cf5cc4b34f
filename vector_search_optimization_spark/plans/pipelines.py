"""End-to-end pipelines — the reference's top entry points (SURVEY §3).

- ``analytics_prologue``: the shared 6-step notebook prologue (EP session
  setup): load → project → normalise → nearest-centroid assign → dense
  label numbering → per-(cluster, category) report with proportion window
  (main-script1.ipynb c13-c17 + c41).
- ``cluster_label_pipeline``: EP1/EP3 — cluster (KMeans), sample near/far
  members per cluster, interleave, token-budget concat, LLM label
  (interface + deterministic fake), keyed-upsert writeback, audit counts
  (cluster_creator.py:45-59; update-etiquetas.ipynb:171 c9;
  ChunkLabelingProcesor.py:17-53).

The LLM boundary is a plain callable protocol so tests inject
``FakeChatModel`` — labels are opaque strings downstream either way
(SURVEY §7.4).
"""

from __future__ import annotations

from typing import Callable, Protocol

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators import topk
from ..operators.nearest_centroid import nearest_centroid
from ..operators.upsert import upsert_fields


class ChatModel(Protocol):
    """L1 — chat-completion boundary (update-etiquetas.ipynb:126 c7)."""

    def __call__(self, prompt: str) -> str: ...


class FakeChatModel:
    """Deterministic stand-in: labels are f(cluster_id), no network."""

    def __init__(self, template: str = "label-{n}"):
        self.template = template
        self.calls: list[str] = []

    def __call__(self, prompt: str) -> str:
        self.calls.append(prompt)
        return self.template.format(n=len(self.calls) - 1)


def analytics_prologue(
    chunks: DataFrame,
    centroids: DataFrame,
    vector_col: str = "content_vector",
    category_col: str = "category",
    id_col: str = "id",
    doc_col: str = "document_id",
) -> DataFrame:
    """§7.3 minimum slice: normalise → assign → report.

    Returns (etiqueta_asignada, category, n_chunks, n_docs, pct) where pct
    is the within-cluster share — the chunks-per-cluster-and-category
    report behind main-script1.ipynb:1141 c41.
    """
    normalized = chunks.withColumn(vector_col, V.l2_normalize(vector_col))
    assigned = nearest_centroid(
        normalized,
        centroids,
        vector_col=vector_col,
    )
    report = assigned.groupBy("assigned_label", category_col).agg(
        F.count(id_col).alias("n_chunks"),
        F.countDistinct(doc_col).alias("n_docs"),
    )
    w = Window.partitionBy("assigned_label")
    return report.withColumn(
        "pct", F.round(F.col("n_chunks") / F.sum("n_chunks").over(w) * 100, 1)
    )


def cluster_label_pipeline(
    docs: DataFrame,
    k: int,
    llm: ChatModel | None = None,
    sample_k: int = 100,
    token_budget: int = 125_000,
    seed: int = 42,
    quantizer: str = "mllib",
) -> dict:
    """EP1/EP3 — the full label-and-writeback ETL.

    1. drop null vectors (P8), k clusters (M1): quantizer="mllib" (the
       distributed MLlib KMeans API path) or "lloyd" (the seeded,
       cross-engine-reproducible driver-sample Lloyd quantizer shared
       with the IVF index — the value-oracle path, since MLlib's
       parallel init is not bit-reproducible outside Spark)
    2. per cluster: distance to own centroid, k nearest + k farthest,
       interleaved, id-tie-broken (O5-O7)
    3. concat member texts under the token budget (F10/F11: ~4 chars per
       token heuristic) in interleave order, one LLM call per cluster in
       SORTED cluster order (L2; 37 calls in the reference) — the sort
       makes stateful fakes (label-0, label-1, ...) deterministic
    4. upsert labels back by id (S11)
    5. audit: label counts (A16) enriched with the exact prompt-corpus
       length and sha256 — the audit value-checks the whole sampling /
       truncation path, not just the histogram

    Returns {labeled: DataFrame, labels: {cluster: label}, audit: DataFrame,
    centroids: DataFrame}.
    """
    import hashlib

    llm = llm or FakeChatModel()
    spark = docs.sparkSession

    clean = docs.where(F.col("content_vector").isNotNull())
    if quantizer == "lloyd":
        from ..operators.ann import train_ivf_centroids

        centroids = train_ivf_centroids(
            clean.orderBy("id"), num_cells=k, vector_col="content_vector",
            seed=seed,
        ).select(F.col("cell").alias("cluster_label"), "centroid")
    else:
        from ..operators.clustering import kmeans_fit

        result = kmeans_fit(clean, k, seed=seed, vector_col="content_vector")
        centroids = result.centroids_df(spark)

    assigned = nearest_centroid(
        clean,
        centroids,
        out_label="cluster",
        out_dist="dist",
    ).persist()

    sampled = topk.interleave_near_far(
        assigned, "cluster", "dist", sample_k, tie_col="id"
    )
    # token-budget concat per cluster in interleaved order: sort INSIDE
    # the aggregate (array_sort over (ord, text) structs — ord is unique
    # per cluster) rather than relying on a pre-groupBy orderBy, which
    # Spark does not guarantee to survive the aggregation
    member_texts = (
        sampled.groupBy("cluster")
        .agg(
            F.substring(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ord", "content"))),
                        lambda r: r["content"],
                    ),
                ),
                1,
                token_budget * 4,
            ).alias("corpus")
        )
        .collect()
    )
    labels: dict = {}
    corpus_stats = []
    for r in sorted(member_texts, key=lambda r: r["cluster"]):
        lbl = llm(r["corpus"])
        labels[r["cluster"]] = lbl
        corpus_stats.append(
            (
                int(r["cluster"]),
                lbl,
                len(r["corpus"]),
                hashlib.sha256(r["corpus"].encode()).hexdigest(),
            )
        )

    label_updates = spark.createDataFrame(
        corpus_stats,
        schema="cluster long, etiqueta_cluster string,"
        " corpus_chars int, corpus_sha string",
    )
    doc_labels = assigned.join(
        F.broadcast(label_updates.select("cluster", "etiqueta_cluster")),
        "cluster",
    ).select("id", "etiqueta_cluster")

    base = docs.withColumn("etiqueta_cluster", F.lit(None).cast("string"))
    labeled = upsert_fields(base, doc_labels, "id", ["etiqueta_cluster"],
                            broadcast_updates=False)

    audit = (
        labeled.groupBy("etiqueta_cluster")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            F.broadcast(
                label_updates.select(
                    "etiqueta_cluster", "corpus_chars", "corpus_sha"
                )
            ),
            "etiqueta_cluster",
            "left",
        )
    )
    return {
        "labeled": labeled,
        "labels": labels,
        "audit": audit,
        "centroids": centroids,
    }
