"""Similarity search over embedding columns.

Engine extension (the reference's vector search is delegated to Azure AI
Search; its local analog is the brute-force nearest-centroid scan,
nuevo-kmeans-pre.ipynb:16 c1). Three tiers:

- ``brute_force_topk``       : exact top-k for a single query vector — one
                               scan + TakeOrdered, the correctness baseline.
- ``brute_force_topk_batch`` : exact top-k for a query *table* — broadcast
                               the queries, one window over (query, dist).
- ``ivf_topk`` / ``random_projection_buckets``: the scale paths. IVF
                               partitions the corpus by nearest centroid
                               (coarse quantizer) and probes only the
                               closest nprobe cells; RP-LSH buckets sign
                               patterns for near-dup blocking.

Scale notes: the corpus table never shuffles for brute force (map-side
distance + partial top-k, AQE merges); IVF turns a full scan into a
partition-pruned scan when the corpus is *written* partitioned by cell id
(df.write.partitionBy("cell")), which is the intended layout at 100 TB.
A probe over an index opened with ``load_ivf_index`` builds without any
Spark job (footer-read corpus schema, driver-local centroids, one-literal
query vector): its only Spark job is its collect.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Sequence

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V
from ..session import bounded_collect
from .nearest_centroid import nearest_centroid


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to one query vector.

    The query is a plan literal — the scan computes the score map-side and
    Spark's TakeOrderedAndProject keeps k rows per partition, so the
    shuffle is k*num_partitions rows regardless of corpus size.
    """
    return (
        df.select(
            F.col(id_col),
            F.round(V.cosine_similarity(vector_col, query), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def brute_force_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query for a table of queries.

    Broadcast the (small) query table against the corpus — the corpus does
    not shuffle; the window's rank-limit pushdown keeps k rows per query per
    map task before the single (query_id-keyed) shuffle.
    """
    from pyspark.sql import Window

    scored = corpus.crossJoin(
        F.broadcast(queries.select("query_id", "query_vec"))
    ).select(
        F.col("query_id"),
        F.col("vec_id"),
        F.round(V.cosine_similarity("embedding", "query_vec"), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def matryoshka_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    rerank: int = 100,
) -> DataFrame:
    """Two-stage Matryoshka retrieval (Kusupati et al. '22 MRL; the
    adaptive-retrieval recipe from the public paper): shortlist
    ``rerank`` candidates by cosine over the FIRST 16
    dimensions — MRL-trained embeddings concentrate signal in the
    prefix — then re-rank only the shortlist at full dimension.

    Scale shape mirrors pq_refined_topk: the prefix stage is a map-side
    slice + TakeOrdered (k·partitions rows shuffle; with the prefix
    stored as a truncated sibling column the scan reads 16/dim
    of the vector bytes), and the full-precision math touches ``rerank``
    rows total. Both stage scores are rounded to 6dp BEFORE ordering
    with an id tie-break, so the shortlist boundary is deterministic and
    engine-independent (the oracle-parity rounding rule)."""
    pre = F.round(
        V.cosine_similarity(F.slice("embedding", 1, 16), query[:16]),
        6,
    )
    cand = (
        df.select(F.col("vec_id"), F.col("embedding"), pre.alias("pre_score"))
        .orderBy(F.col("pre_score").desc(), F.col("vec_id").asc())
        .limit(rerank)
    )
    return (
        cand.withColumn("score", F.round(V.cosine_similarity("embedding", query), 6))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "score", "pre_score")
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|x|/127,
    q = round(x / scale) ∈ [-127, 127]. 4× smaller storage + int8 GEMM
    on real hardware; zero vectors get scale 0 and all-zero codes.

    Pure column expressions (both the quantize and the dequantize are
    SQL-expressible), so quantized search carries a full DuckDB oracle —
    the accuracy/storage trade is measurable by value, not by trust.
    """
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # materialize the scale as a COLUMN first: embedding amax inside the
    # quantize lambda re-evaluates the full array_max subtree per element
    # (interpreted HOFs hoist nothing -> O(dim^2) per row at high dim)
    out = df.withColumn("q8_scale", amax / F.lit(127.0))
    q = F.when(
        F.col("q8_scale") == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.round(x / F.col("q8_scale")).cast("int")))
    return out.withColumn("q8", q)


def dequantize_int8() -> F.Column:
    """Reconstruction: x̂ = q * scale (array<double>)."""
    return F.transform(F.col("q8"), lambda q: q.cast("double") * F.col("q8_scale"))


def all_pairs_topk(df: DataFrame, k: int = 20) -> DataFrame:
    """Global top-k most-similar pairs (cosine), BLAS formulation.

    The corpus matrix is collected once (n x d floats) and shipped to
    executors in the UDF closure; each Arrow batch does one GEMM against it
    and keeps its per-row top-k (a superset of the global top-k pairs,
    since a global-top pair must rank top-k within its own row). Final
    global sort is over <= n*k candidate rows.

    The collect bounds this path to corpora whose matrix fits the driver
    (~1M x 128 floats = 512 MB); beyond that, block with
    random_projection_buckets (a cosine join within each bucket), or IVF.
    """
    import pandas as pd
    from pyspark.sql import types as T

    rows = df.select("vec_id", "embedding").collect()
    # id order on the driver (the collect is already n rows): a Spark
    # orderBy would add a range-partition sampling job and a shuffle
    ids = np.array([r[0] for r in rows])
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.array([r[1] for r in rows], dtype=np.float64)[order]
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = np.nan
    unit = mat / norms[:, None]

    id_field = df.schema["vec_id"]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bm = V.stack_vectors(pdf["embedding"])
            bn = np.linalg.norm(bm, axis=1)
            bn[bn == 0.0] = np.nan
            sims = (bm / bn[:, None]) @ unit.T                  # (b, n)
            bids = pdf["vec_id"].to_numpy()
            mask = ids[None, :] <= bids[:, None]                 # keep id_a < id_b
            sims[mask] = -np.inf
            kk = min(k, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out_a, out_b, out_s = [], [], []
            for r in range(len(bids)):
                cols = idx[r][np.isfinite(sims[r, idx[r]])]
                out_a.extend([bids[r]] * len(cols))
                out_b.extend(ids[cols])
                out_s.extend(sims[r, cols])
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_s})

    cands = df.mapInPandas(kernel, schema=out_schema)
    return (
        cands.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(k)
    )


def all_pairs_topk_distributed(df: DataFrame, num_blocks: int = 8) -> DataFrame:
    """Exact global top-k most-similar pairs with NO driver-side collect.

    2-D grid decomposition: rows hash into num_blocks blocks; every
    unordered block pair (i, j), i <= j, is one GEMM task executed
    executor-side (applyInPandas over the grid key). Each row is replicated
    num_blocks times — the standard distributed all-pairs trade: the O(n^2)
    similarity work shards into B(B+1)/2 independent tasks of O((n/B)^2),
    so set num_blocks ≈ sqrt(2 * cluster_cores) and size B so a block pair
    (2n/B rows x dim) fits an executor. Per-task top-k (≤ k rows out per
    task) then a global TakeOrdered(k).

    Same numbers as all_pairs_topk (float64 GEMM, round 6, id tie-break) —
    equivalence is pytest-gated; this is the registered 100 TB path.
    """
    import pandas as pd

    B = int(num_blocks)
    blk = F.pmod(F.hash(F.col("vec_id")), F.lit(B))
    rows = df.select(F.col("vec_id"), F.col("embedding"), blk.alias("__blk"))
    cells = rows.select(
        "vec_id",
        "embedding",
        "__blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__other"),
    ).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.col("__blk"),
        F.least("__blk", "__other").alias("bi"),
        F.greatest("__blk", "__other").alias("bj"),
    )

    def gemm(key, pdf):
        i, j = key
        left = pdf[pdf["__blk"] == i]
        right = pdf[pdf["__blk"] == j]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        A = V.stack_vectors(left["embedding"])
        Bm = V.stack_vectors(right["embedding"])
        an = np.linalg.norm(A, axis=1)
        bn = np.linalg.norm(Bm, axis=1)
        an[an == 0.0] = np.nan
        bn[bn == 0.0] = np.nan
        sims = (A / an[:, None]) @ (Bm / bn[:, None]).T
        ia = left["vec_id"].to_numpy()
        ib = right["vec_id"].to_numpy()
        if i == j:
            # left == right: keep one orientation of each unordered pair
            sims = np.where(ia[:, None] < ib[None, :], sims, -np.inf)
        # cross cells already see each unordered pair exactly once
        sims = np.where(np.isfinite(sims), sims, -np.inf)
        flat = sims.ravel()
        kk = min(20, flat.size)
        idx = np.argpartition(-flat, kk - 1)[:kk]
        idx = idx[flat[idx] > -np.inf]
        r, c = np.unravel_index(idx, sims.shape)
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia[r], ib[c]),
                "id_b": np.maximum(ia[r], ib[c]),
                "cos_sim": flat[idx],
            }
        )

    id_type = df.schema["vec_id"].dataType.simpleString()
    cands = cells.groupBy("bi", "bj").applyInPandas(
        gemm, schema=f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )
    return (
        cands.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(20)
    )


def train_ivf_centroids(
    df: DataFrame,
    num_cells: int = 64,
    vector_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Coarse quantizer for IVF: k-means cells over a sample of the corpus.

    Returns a small DataFrame (cell int, centroid array<float>).

    The standard IVF recipe (Faiss trains its quantizer the same way):
    take the first 100,000 vectors, collect them to the driver, and run 20
    Lloyd iterations of k-means in numpy — at 100 TB you still train on
    ~1e5 vectors, so the training set is driver-bounded by construction
    and the fit costs no Spark jobs beyond the one sample scan.
    """
    rows = bounded_collect(df.select(vector_col), 100_000)
    x = np.array([r[0] for r in rows], dtype=np.float64)
    centers = [list(map(float, c)) for c in _lloyd_kmeans(x, num_cells, seed, 20)]
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        schema="cell int, centroid array<float>",
    )


def _lloyd_kmeans(x: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations; returns (k, dim) centers.

    Driver-side kernel for quantizer training only — the training set is
    already bounded (≤ max_train_rows)."""
    n = len(x)
    k = min(k, n)
    rng = np.random.RandomState(seed)
    centers = np.empty((k, x.shape[1]))
    centers[0] = x[rng.randint(n)]
    d2 = np.sum((x - centers[0]) ** 2, axis=1)
    for i in range(1, k):
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers[i] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, np.sum((x - centers[i]) ** 2, axis=1))
    for _ in range(max_iter):
        # (n, k) squared distances via ||x||^2 - 2 x.c + ||c||^2
        dist = (
            np.sum(x * x, axis=1)[:, None]
            - 2.0 * (x @ centers.T)
            + np.sum(centers * centers, axis=1)[None, :]
        )
        labels = np.argmin(dist, axis=1)
        new = np.array(
            [
                x[labels == j].mean(axis=0) if np.any(labels == j) else centers[j]
                for j in range(k)
            ]
        )
        if np.allclose(new, centers):
            centers = new
            break
        centers = new
    return centers


def assign_ivf_cells(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Attach the IVF cell id to every corpus row (no shuffle — broadcast
    matrix argmin via the nearest-centroid operator)."""
    return nearest_centroid(
        df,
        centroids,
        vector_col="embedding",
        label_col="cell",
        metric="sqeuclidean",
        out_label="cell",
        out_dist="cell_dist",
    ).drop("cell_dist")


def write_ivf_index(df: DataFrame, centroids: DataFrame, path: str) -> None:
    """Materialize the IVF layout (the SCALING.md design): the corpus
    written ``partitionBy("cell")`` so a probe's IN-list filter becomes
    *partition pruning* (whole directories skipped, visible as
    PartitionFilters in the scan), plus the centroid table alongside.

    At 100 TB this is the index-build job — run once, incrementally
    refreshed; probes are then cheap scans of nprobe/num_cells of the data.
    """
    indexed = assign_ivf_cells(df, centroids)
    indexed.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/corpus")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def append_to_ivf_index(df_new: DataFrame, path: str) -> None:
    """Incremental index maintenance: assign the NEW vectors to their
    cells (broadcast argmin against the stored quantizer — the quantizer
    is immutable; re-training would invalidate existing cells) and append
    them into the cell-partitioned corpus. Only the touched cell
    directories receive new files — the existing index is never
    rewritten, so refresh cost is O(batch), not O(corpus).

    INGEST INVARIANT: a vec_id is appended AT MOST ONCE (identical
    crash-replay duplicates excepted). The index has no version column,
    so compaction (compact_ivf_cells) and probe-time dedup keep an
    arbitrary row per vec_id — appending an UPDATED embedding under an
    existing vec_id would be resolved nondeterministically. Updates must
    go through a full write_ivf_index rebuild (or an id tombstone +
    re-append under a fresh vec_id).

    At 100 TB this is the nightly ingest job; periodic re-train +
    full write_ivf_index handles quantizer drift."""
    spark = df_new.sparkSession
    centroids = _read_centroids(spark, path)
    assigned = assign_ivf_cells(df_new, centroids)
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/corpus")


def compact_ivf_cells(spark, path: str, max_files_per_cell: int = 4) -> list[int]:
    """Index maintenance half #2: compact cells whose file count exceeds
    ``max_files_per_cell`` — the small-file debt a streaming ingest
    (streaming.index_maintenance) accrues, since every micro-batch lands
    at least one new file per touched cell.

    Only over-fragmented cells are rewritten, all of them in ONE Spark
    write: the fragmented cells are opened together (partition-pruned to
    their directories), shuffled once by cell (which also satisfies the
    dedup's distribution, so each cell lands whole in one task and gets
    one file) and written partitionBy("cell") into a staging directory
    beside the corpus. Each cell is then installed on its own,
    install-new-then-delete-old — a crash between the phases duplicates
    rows, never loses them; untouched cells keep their files
    byte-identical, preserving the append-only economics. Returns the
    compacted cell ids.

    At 100 TB this is the nightly OPTIMIZE job: rewrite cost is
    proportional to the fragmented cells' data, and cells are
    independent (safe to shard across jobs). Run it as offline
    maintenance — the swap is per-file, not transactional, so a probe
    racing a compaction can see a cell mid-swap; at lake scale the same
    rewrite goes through the table format's commit protocol instead."""
    import shutil

    fragmented: list[tuple[int, str, list[str]]] = []
    for cell_dir in sorted(glob.glob(f"{path}/corpus/cell=*")):
        files = sorted(glob.glob(f"{cell_dir}/*.parquet"))
        if len(files) > max_files_per_cell:
            cell = int(os.path.basename(cell_dir).split("=", 1)[1])
            fragmented.append((cell, cell_dir, files))
    if not fragmented:
        return []
    cells = [cell for cell, _, _ in fragmented]
    staging = f"{path}/_compact_staging"
    # dropDuplicates makes crash recovery CONVERGE: a kill between
    # install and delete below leaves original+compacted copies of
    # each row; this rewrite collapses them instead of baking the
    # duplication in forever (keep the streaming-duplicate contract
    # bounded at one compaction cycle). Keeping an ARBITRARY row per
    # vec_id is sound only under the appended-at-most-once ingest
    # invariant (append_to_ivf_index) — crash duplicates are
    # bit-identical, so any pick is the same row. Overwrite mode clears
    # whatever an interrupted earlier run left in the staging directory.
    (
        _read_parquet(
            spark,
            f"{path}/corpus",
            [f for _, _, files in fragmented for f in files],
            [T.StructField("cell", T.IntegerType())],
        )
        .where(F.col("cell").isin(cells))
        .repartition("cell")
        .dropDuplicates(["cell", "vec_id"])
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    for cell, cell_dir, files in fragmented:
        staged = sorted(glob.glob(f"{staging}/cell={cell}/*.parquet"))
        # crash-safe order: INSTALL the compacted files first, then
        # delete the originals — a kill between the two phases leaves
        # the cell with duplicate rows (probe-time dedup on vec_id, the
        # documented streaming-sink contract), never with missing rows.
        # Deleting first would lose the whole cell on a mid-swap crash.
        # Epoch-unique names so an install can never overwrite a
        # previous compaction's file that is itself in `files`.
        prev = [
            os.path.basename(f).split("-")[1]
            for f in files
            if os.path.basename(f).startswith("compacted-")
        ]
        epoch = 1 + max((int(e) for e in prev if e.isdigit()), default=-1)
        for i, f in enumerate(staged):
            os.replace(f, f"{cell_dir}/compacted-{epoch}-{i}.parquet")
        for f in files:
            os.remove(f)
    shutil.rmtree(staging)
    return cells


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _read_parquet(
    spark,
    path: str,
    files: Sequence[str],
    partition_fields: Sequence[T.StructField] = (),
) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Spark infers a parquet schema with a job that opens one data file's
    footer and decodes the schema record Spark's writer left under
    ``org.apache.spark.sql.parquet.row.metadata``. Reading that record
    from the first of ``files`` that carries it (pyarrow, footer only, on
    the driver) and passing it as the read schema gives the same frame
    with no job; ``partition_fields`` are appended for the ``key=value``
    directories under ``path``. Files without the record (written by
    another engine) fall back to Spark's own inference."""
    for f in files:
        record = (pq.read_metadata(f).metadata or {}).get(_SPARK_ROW_METADATA)
        if record is not None:
            schema = T.StructType.fromJson(json.loads(record))
            return spark.read.schema(
                T.StructType(schema.fields + list(partition_fields))
            ).parquet(path)
    return spark.read.parquet(path)


def _read_centroids(spark, path: str) -> DataFrame:
    """The index's centroid table as a driver-local frame (a
    LocalRelation: collecting it runs no Spark job). Rows come in cell
    order, whatever the file layout."""
    return spark.createDataFrame(pq.read_table(f"{path}/centroids").sort_by("cell"))


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Open a written IVF index: (cell-partitioned corpus, centroids).

    Fires no Spark job: the corpus schema comes from a parquet footer
    (_read_parquet) and the centroids are read on the driver
    (_read_centroids), so a probe's only Spark job is its collect. Like
    compact_ivf_cells, this assumes the index is on the local filesystem."""
    return (
        _read_parquet(
            spark,
            f"{path}/corpus",
            sorted(glob.glob(f"{path}/corpus/cell=*/*.parquet")),
            [T.StructField("cell", T.IntegerType())],
        ),
        _read_centroids(spark, path),
    )


def ivf_topk(
    indexed: DataFrame,
    centroids: DataFrame,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest IVF cells.

    ``indexed`` must carry the ``cell`` column from assign_ivf_cells. The
    cell filter is an IN-list literal → partition pruning when the corpus
    is stored partitionBy("cell"); otherwise it's still a pushed-down scan
    filter that skips (1 - nprobe/num_cells) of the data.

    The nprobe pick collects ``centroids``; the score is one SQL
    expression holding the query as one plan literal and its norm as a
    driver-folded constant (V.cosine_similarity with a sequence operand).
    Over load_ivf_index's frames the build fires no Spark job, so the
    probe's only job is the caller's collect.
    """
    cents = centroids.collect()
    q = np.array(query, dtype=np.float64)
    order = sorted(
        cents, key=lambda r: float(np.sum((np.array(r["centroid"]) - q) ** 2))
    )
    probe = [r["cell"] for r in order[:nprobe]]
    return brute_force_topk(
        indexed.where(F.col("cell").isin(probe)),
        query,
        k=k,
    )


def ivf_recall_audit(
    indexed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobes: Sequence[int] = (1, 4),
) -> DataFrame:
    """Recall@k of the IVF probe against the exact scan, per
    (nprobe, query) — the quantitative answer to "what does nprobe
    buy?" that drives the probe-width dial at 100 TB (the recall/latency
    tradeoff every IVF deployment tunes; pytest pins the monotone
    nprobe→recall curve separately in test_ann.py).

    ONE plan, not a per-query loop: the (nprobe, query, cell) probe
    assignment is a driver-side literal (num_queries × max nprobe rows —
    the coarse quantizer is k rows, collected once) broadcast against
    the cell-partitioned corpus, so the corpus never shuffles and each
    cell is read once per probing (nprobe, query) pair; scores round to
    6dp before ranking with id tie-breaks (engine-deterministic top-k
    sets on both the IVF and exact sides)."""
    spark = indexed.sparkSession
    from pyspark.sql import Window

    cents = centroids.collect()
    qrows = queries.select("query_id", "query_vec").collect()
    probe_rows = []
    for qr in qrows:
        qv = np.asarray(qr["query_vec"], dtype=np.float64)
        order = sorted(
            cents,
            key=lambda r: float(
                np.sum((np.asarray(r["centroid"]) - qv) ** 2)
            ),
        )
        for npb in nprobes:
            for r in order[:npb]:
                probe_rows.append((int(npb), qr["query_id"], int(r["cell"])))
    # probe-frame id type derives from the caller's queries frame — the
    # signature is generic over query_id_col, so its type must be too
    qid_type = dict(queries.dtypes)["query_id"]
    probe_df = spark.createDataFrame(
        probe_rows, f"nprobe int, query_id {qid_type}, cell int"
    )
    exact = brute_force_topk_batch(
        indexed.select("vec_id", "embedding"),
        queries,
        k=k,
    )
    cand = indexed.join(F.broadcast(probe_df), "cell").join(
        F.broadcast(queries.select("query_id", "query_vec")),
        "query_id",
    )
    scored = cand.select(
        "nprobe",
        "query_id",
        "vec_id",
        F.round(V.cosine_similarity("embedding", "query_vec"), 6).alias("score"),
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    ivf = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )
    ex_ids = exact.select("query_id", "vec_id").withColumn("__hit", F.lit(1))
    return (
        ivf.join(F.broadcast(ex_ids), ["query_id", "vec_id"], "left")
        .groupBy("nprobe", "query_id")
        .agg(
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_overlap")
        )
        .select(
            "nprobe",
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / float(k), 2).alias(f"recall_at_{k}"),
        )
        .orderBy("nprobe", "query_id")
    )


def train_pq_codebooks(
    df: DataFrame,
    num_subspaces: int = 8,
    num_centroids: int = 16,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al.): the vector splits
    into m contiguous subspaces and each gets its own k-sub Lloyd
    codebook, trained on a driver-bounded ordered sample (the same Faiss
    recipe as the IVF coarse quantizer — at 100 TB you still train on
    ~1e5 vectors). Returns (m, ksub, dsub) float64, float32-roundtripped
    so generated oracles reproduce the exact literals.

    Storage win: dim float32 bytes → m uint8 codes (e.g. 64 dims ×4 B =
    256 B → 8 B, 32×). Pass the input pre-ordered (e.g. orderBy(vec_id))
    so training — and any generated oracle literals — are a pure
    function of the data, like train_ivf_centroids."""
    rows = bounded_collect(df.select("embedding"), 100_000)
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible by m={num_subspaces}")
    dsub = dim // num_subspaces
    books = np.stack(
        [
            _lloyd_kmeans(X[:, j * dsub : (j + 1) * dsub], num_centroids, 42 + j, 20)
            for j in range(num_subspaces)
        ]
    )
    return books.astype(np.float32).astype(np.float64)


def pq_encode_kernel(df: DataFrame, books: np.ndarray) -> DataFrame:
    """Arrow encode stage: per-subspace argmin against the codebook (one
    GEMM per subspace per batch); ties take the lowest code, matching
    both np.argmin and the oracle's struct-min."""
    import pandas as pd

    from ..functions.vector import stack_vectors

    m, ksub, dsub = books.shape
    cols = df.columns

    def batches(it):
        for pdf in it:
            X = stack_vectors(pdf["embedding"])
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                c = books[j]
                d = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * sub @ c.T
                    + (c**2).sum(1)[None, :]
                )
                codes[:, j] = np.argmin(d, axis=1)
            out = pdf[cols].copy()
            out["pq_codes"] = list(codes)
            yield out

    schema = T.StructType(
        df.schema.fields + [T.StructField("pq_codes", T.ArrayType(T.IntegerType()))]
    )
    return df.mapInPandas(batches, schema=schema)


def pq_adc_score(books: np.ndarray, query: Sequence[float]) -> F.Column:
    """Asymmetric-distance column: the per-subspace squared distances of
    the query to every codebook centroid become m literal lookup tables,
    so scoring a row is m element_at lookups + a sum — no vector math in
    the hot path (the PQ-ADC trick: compute ksub·m distances ONCE per
    query, not per row)."""
    q = np.asarray(query, dtype=np.float64)
    m, ksub, dsub = books.shape
    total = F.lit(0.0)
    for j in range(m):
        qs = q[j * dsub : (j + 1) * dsub]
        lut = ((books[j] - qs[None, :]) ** 2).sum(axis=1)
        lut_lit = V.vector_lit(lut)
        total = total + F.element_at(lut_lit, F.col("pq_codes")[j] + 1)
    return total


def pq_refined_topk(
    enc: DataFrame,
    books: "np.ndarray",
    query: Sequence[float],
    k: int = 10,
    rerank: int = 100,
) -> DataFrame:
    """Two-stage PQ retrieval (Jégou et al. '11 §V: ADC shortlist +
    exact re-ranking — Faiss IndexRefineFlat): the compressed scan
    shortlists ``rerank`` candidates by asymmetric distance (m lookups
    per row, no vector math), then ONLY those rows are re-scored with
    full-precision squared euclidean and the true top-k returned.

    This is how PQ's 32x storage cut keeps exact-quality results: the
    full-precision read amortizes over ``rerank`` rows instead of the
    corpus. ``enc`` must carry both the codes and the original vector
    column. Scale shape: the ADC stage is TakeOrdered (k*partitions rows
    shuffle), the refine stage touches ``rerank`` rows total.
    """
    cand = (
        enc.withColumn("adc_dist", pq_adc_score(books, query))
        .orderBy("adc_dist", "vec_id")
        .limit(rerank)
    )
    return (
        cand.withColumn("exact_dist", V.sq_euclidean("embedding", query))
        .orderBy("exact_dist", "vec_id")
        .limit(k)
        .select("vec_id", "exact_dist", "adc_dist")
    )


def ivfpq_topk(
    indexed_codes: DataFrame,
    centroids: DataFrame,
    books: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ with ADC scoring — the Faiss lake-scale layout (IndexIVFPQ):
    the coarse quantizer picks the nprobe nearest cells (an IN-list
    literal → partition pruning over the partitionBy("cell") corpus), and
    survivors are scored by PQ asymmetric distance — m element_at lookups
    per row against query-time literal LUTs, so the probe reads 1 byte
    per subspace per row and does no vector math at all.

    Codes encode RAW vectors, not per-cell residuals (Faiss
    by_residual=false): one codebook set serves every cell, so the encode
    stage, the append path, and generated oracles stay cell-independent.

    ``indexed_codes`` must carry ``cell`` (assign_ivf_cells) and
    ``pq_codes`` (pq_encode_kernel). At 100 TB both are materialized at
    index-build time; a probe then scans nprobe/num_cells of an
    m-bytes-per-row table — the full-precision vectors are never read."""
    cents = centroids.collect()
    q = np.asarray(query, dtype=np.float64)
    order = sorted(
        cents, key=lambda r: float(np.sum((np.asarray(r["centroid"]) - q) ** 2))
    )
    probe = [r["cell"] for r in order[:nprobe]]
    return (
        indexed_codes.where(F.col("cell").isin(probe))
        .select("vec_id", pq_adc_score(books, query).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


def ivfpq_refined_topk(
    indexed_codes: DataFrame,
    vectors_df: DataFrame,
    centroids: DataFrame,
    books: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    rerank: int = 100,
) -> DataFrame:
    """The full production retrieval stack (Faiss IndexIVFPQ +
    IndexRefineFlat): coarse cell pruning picks nprobe cells, the PQ-ADC
    scan shortlists ``rerank`` candidates reading one byte per subspace
    per row, and ONLY the shortlist's full-precision vectors are fetched
    back — by an id IN-list that pushes down to the parquet scan — for
    the exact top-k.

    The shortlist collect is bounded (``rerank`` rows of id+score) and is
    what makes the refine fetch a pushed-down point read instead of a
    corpus scan — same driver role as the nprobe centroid pick. The
    compressed index never stores vectors; the vector table is touched
    for ~rerank rows per query regardless of corpus size."""
    # the probe + shortlist stage IS ivfpq_topk with k=rerank — one
    # implementation of the coarse-probe/ADC block, not a third copy
    cand_rows = ivfpq_topk(
        indexed_codes, centroids, books, query,
        k=rerank,
    ).collect()
    spark = indexed_codes.sparkSession
    id_type = indexed_codes.schema["vec_id"].dataType
    cand_df = spark.createDataFrame(
        [(r[0], float(r[1])) for r in cand_rows],
        T.StructType(
            [
                T.StructField("vec_id", id_type),
                T.StructField("adc_dist", T.DoubleType()),
            ]
        ),
    )
    ids = [r[0] for r in cand_rows]
    return (
        vectors_df.where(F.col("vec_id").isin(ids))
        .select("vec_id", V.sq_euclidean("embedding", query).alias("exact_dist"))
        .join(F.broadcast(cand_df), "vec_id")
        .orderBy("exact_dist", "vec_id")
        .limit(k)
        .select("vec_id", "exact_dist", "adc_dist")
    )


def _rp_bucket_expr(vector_col: str, planes: np.ndarray) -> F.Column:
    """Sign-pattern bucket id over plan-literal hyperplanes (a long)."""
    bucket = F.lit(0).cast("long")
    for i in range(len(planes)):
        bit = (V.dot(vector_col, planes[i]) > 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def rp_planes(num_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Seeded hyperplanes — single source for Spark plans, kernels, and
    generated DuckDB oracle literals."""
    return np.random.RandomState(seed).normal(size=(num_planes, dim))


def random_projection_buckets(df: DataFrame, num_planes: int = 12) -> DataFrame:
    """Sign-pattern LSH bucket id (SRP-LSH, Charikar '02) as a long.

    num_planes seeded random hyperplanes; bit i = sign(<v, plane_i>).
    Cosine-similar vectors collide with probability 1 - theta/pi per bit.
    Pure column expressions over plan-literal plane vectors — scan-speed,
    no UDF. Output feeds a cosine self-join within each bucket.
    """
    dim = len(df.select("embedding").first()[0])
    planes = rp_planes(num_planes, dim, 42)
    return df.withColumn("rp_bucket", _rp_bucket_expr("embedding", planes))


def rp_table_buckets(df: DataFrame) -> DataFrame:
    """Per-row array of 4 independent SRP bucket ids (8 planes each).

    Multi-table LSH: a near-dup pair is a candidate if it collides in ANY
    table, so recall is 1 - (1 - p^b)^L instead of p^b — the standard fix
    for single-table SRP's recall loss. Still pure column expressions.
    """
    dim = len(df.select("embedding").first()[0])
    return df.withColumn(
        "rp_buckets",
        F.array(
            *[
                _rp_bucket_expr("embedding", rp_planes(8, dim, 42 + t))
                for t in range(4)
            ]
        ),
    )


def rp_table_buckets_kernel(df: DataFrame) -> DataFrame:
    """Arrow twin of rp_table_buckets: all 4 tables × 8 planes sign
    bits in one (n, dim) × (dim, T·P) GEMM per batch instead of T·P
    interpreted fold-dots per row (equivalence-tested; the expression
    path remains the oracle formulation)."""
    import pandas as pd

    from ..functions.vector import stack_vectors

    dim = len(df.select("embedding").first()[0])
    planes = np.vstack([rp_planes(8, dim, 42 + t) for t in range(4)])  # (T*P, dim)
    weights = (1 << np.arange(8)).astype(np.int64)

    cols = df.columns

    def batches(it):
        for pdf in it:
            X = stack_vectors(pdf["embedding"])
            bits = (X @ planes.T) > 0  # (n, T*P)
            bks = bits.reshape(len(X), 4, 8) @ weights
            out = pdf[cols].copy()
            out["rp_buckets"] = list(bks.astype(np.int64))
            yield out

    schema = T.StructType(
        df.schema.fields + [T.StructField("rp_buckets", T.ArrayType(T.LongType()))]
    )
    return df.mapInPandas(batches, schema=schema)


def rp_blocked_top_pairs(df: DataFrame, k: int = 20) -> DataFrame:
    """Scale path for global top-k most-similar pairs: multi-table SRP-LSH
    blocking instead of all_pairs_topk's driver-side matrix collect.

    Plan shape: bucket expressions at scan → posexplode over tables →
    (table, bucket)-keyed self-join (one hash shuffle per side, AQE handles
    bucket skew) → per-pair cosine → global TakeOrdered(k). Nothing is
    collected to the driver; candidate volume is bucket-bounded. A pair
    colliding in several tables is emitted only by its FIRST matching table
    (predicate on the carried bucket arrays), so no distinct shuffle.

    Approximate by construction: recall vs the exact path is pytest-gated
    (>= 0.9 on the sf0.01 top-20, tests/test_ann.py).
    """
    from pyspark import StorageLevel

    # kernel twin for the T·P interpreted fold-dots (equivalence-tested
    # vs rp_table_buckets, which stays the declarative/oracle form)
    b = rp_table_buckets_kernel(df.select("vec_id", "embedding"))
    # bucketed rows feed both join sides: persist instead of re-deriving
    # (at lake scale this is the "write the bucketed table" stage).
    b = b.persist(StorageLevel.MEMORY_AND_DISK)
    e = b.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.col("rp_buckets"),
        F.posexplode("rp_buckets").alias("tbl", "bucket"),
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("__va"),
        F.col("rp_buckets").alias("__ba"),
        "tbl",
        "bucket",
    )
    bb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("__vb"),
        F.col("rp_buckets").alias("__bb"),
        "tbl",
        "bucket",
    )
    first_match = F.lit(True)
    for j in range(3):
        first_match = first_match & (
            (F.col("tbl") <= j) | (F.col("__ba")[j] != F.col("__bb")[j])
        )
    return (
        a.join(bb, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(first_match)
        .select(
            "id_a",
            "id_b",
            F.round(V.cosine_similarity("__va", "__vb"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(k)
    )
