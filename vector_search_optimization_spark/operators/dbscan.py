"""DBSCAN (SURVEY §2.9 M4) — grid-searched density clustering.

Reference: eps ∈ linspace(0.1, 1.5, 10) x min_samples ∈ {5..50 step 5},
silhouette per combo, best eps=0.5667/ms=5 → silhouette 0.0742
(silhouettes.ipynb:661 c30). MLlib has no DBSCAN; the container has no
sklearn. Two paths:

- ``dbscan_kernel``: exact numpy DBSCAN (BFS region growing) inside one
  task — for reference-scale corpora (the thesis ran it on 5,755 rows) or
  per-partition after blocking.
- ``dbscan_distributed``: the scale path — ε-neighbor pair join (reusing
  the similarity self-join pattern, optionally LSH-blocked) + iterative
  connected components over the core-point graph. Border points attach to
  any adjacent core cluster; noise stays -1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V


def _dbscan_numpy(X: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Textbook DBSCAN; labels -1 noise, 0..C-1 clusters. O(m^2) memory."""
    m = len(X)
    d = np.sqrt(
        np.maximum((X**2).sum(1)[:, None] - 2 * X @ X.T + (X**2).sum(1)[None, :], 0)
    )
    neigh = d <= eps  # includes self, like sklearn
    n_neigh = neigh.sum(axis=1)
    core = n_neigh >= min_samples
    labels = np.full(m, -1, dtype=np.int64)
    cid = 0
    for start in range(m):
        if labels[start] != -1 or not core[start]:
            continue
        # BFS over core connectivity
        stack = [start]
        labels[start] = cid
        while stack:
            p = stack.pop()
            if not core[p]:
                continue
            for q in np.where(neigh[p])[0]:
                if labels[q] == -1:
                    labels[q] = cid
                    stack.append(q)
        cid += 1
    return labels


def dbscan_kernel(df: DataFrame, eps: float, min_samples: int) -> DataFrame:
    """Single-task exact DBSCAN (reference scale). The whole table is
    coalesced into one group — use only when m^2 doubles fit a task."""
    id_field = df.schema["vec_id"]
    schema = T.StructType(
        [
            T.StructField("vec_id", id_field.dataType),
            T.StructField("dbscan_label", T.LongType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        X = V.stack_vectors(pdf["embedding"])
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "dbscan_label": _dbscan_numpy(X, eps, min_samples)}
        )

    return (
        df.select(F.lit(1).alias("__g"), "vec_id", "embedding")
        .groupBy("__g")
        .applyInPandas(kernel, schema=schema)
    )


def _unit_lines(dim: int, num_lines: int, seed: int) -> np.ndarray:
    """Seeded unit-norm projection lines shared by plan expressions,
    kernels, and generated DuckDB oracle literals."""
    lines = np.random.RandomState(seed).normal(size=(num_lines, dim))
    return lines / np.linalg.norm(lines, axis=1, keepdims=True)


def eps_neighbor_pairs(
    df: DataFrame,
    eps: float,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    num_lines: int = 2,
    seed: int = 42,
) -> DataFrame:
    """EXACT directed ε-neighbor pairs (src != dst, ||a-b|| <= eps) with no
    crossJoin and no per-pair interpreted expression.

    Grid blocking on random 1-D projections: cell_l = floor(<v, u_l> / eps)
    for num_lines seeded unit lines. ||a-b|| <= eps implies
    |<a,u_l> - <b,u_l>| <= eps for every line, so adjacent cells (offset in
    {-1,0,1}^L) cover every true pair — each row is exploded to its 3^L
    neighbor cells (is_home marks the offset-0 copy) and one applyInPandas
    task per populated cell runs a chunked numpy GEMM of home rows against
    the group, emitting directed pairs once (pair (a,b) appears exactly in
    the task keyed by cell(a)).

    Scale notes: replication is 3^L copies through one hash shuffle; tasks
    are cell-bounded, so pruning is real whenever eps is small relative to
    the projection spread (~||v||/sqrt(dim)) — the regime where DBSCAN is
    meaningful. When eps approaches the data diameter the ε-graph is
    percolated (one giant cluster) and no metric blocking can prune; see
    SCALING.md. The GEMM is chunked so task memory is O(chunk x cell), not
    O(cell^2).
    """
    from itertools import product

    import pandas as pd

    dim = len(df.select(vector_col).first()[0])
    lines = _unit_lines(dim, num_lines, seed)
    base = df.select(F.col(id_col), F.col(vector_col))
    for l in range(num_lines):
        base = base.withColumn(
            f"__c{l}",
            F.floor(V.dot(vector_col, lines[l]) / F.lit(float(eps))).cast("long"),
        )
    probes = F.array(
        *[
            F.struct(
                *[
                    (F.col(f"__c{l}") + F.lit(int(d[l]))).alias(f"k{l}")
                    for l in range(num_lines)
                ],
                F.lit(all(x == 0 for x in d)).alias("is_home"),
            )
            for d in product((-1, 0, 1), repeat=num_lines)
        ]
    )
    keys = [f"k{l}" for l in range(num_lines)]
    exploded = base.withColumn("__p", F.explode(probes)).select(
        F.col(id_col),
        F.col(vector_col),
        *[F.col(f"__p.{k}").alias(k) for k in keys],
        F.col("__p.is_home").alias("is_home"),
    )

    id_type = df.schema[id_col].dataType.simpleString()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        home = pdf[pdf["is_home"]]
        if home.empty or len(pdf) < 2:
            return pd.DataFrame({"src": [], "dst": []})
        A = V.stack_vectors(home[vector_col])
        Bm = V.stack_vectors(pdf[vector_col])
        ia = home[id_col].to_numpy()
        ib = pdf[id_col].to_numpy()
        bsq = (Bm**2).sum(axis=1)
        out_s, out_d = [], []
        for s in range(0, len(A), 1024):
            Ac = A[s : s + 1024]
            # same formula as _dbscan_numpy so kernel/distributed agree bitwise
            d = np.sqrt(
                np.maximum(
                    (Ac**2).sum(1)[:, None] - 2 * Ac @ Bm.T + bsq[None, :], 0
                )
            )
            r, c = np.where((d <= eps) & (ia[s : s + 1024, None] != ib[None, :]))
            out_s.append(ia[s + r])
            out_d.append(ib[c])
        return pd.DataFrame(
            {"src": np.concatenate(out_s), "dst": np.concatenate(out_d)}
        )

    return exploded.groupBy(*keys).applyInPandas(
        kernel, schema=f"src {id_type}, dst {id_type}"
    )


def dbscan_distributed(
    df: DataFrame,
    eps: float,
    min_samples: int,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "dbscan_label",
    max_iter: int = 50,
    num_lines: int = 2,
    seed: int = 42,
    driver_pair_limit: int = 2_000_000,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Distributed DBSCAN: blocked ε-join → core points → connected
    components. The registered scale path for M4.

    1. ε-neighbor pairs via eps_neighbor_pairs (grid-blocked GEMM — no
       crossJoin, no driver collect).
    2. core = points with >= min_samples neighbors (self included).
    3. label = min reachable core id, by min-propagation over core-core
       edges PLUS pointer jumping (lbl <- label(lbl)) each round, so
       convergence is O(log n) rounds, not O(graph diameter) — a chain of
       1e6 cores converges in ~20 rounds.
    4. border points take the min label of adjacent cores; others -1.

    Each round persists its label frame, materializes it with the
    convergence check (a changed-flag filter — no extra join), and
    unpersists the superseded frame.

    Small-graph dispatch (the broadcast-join analogy, SCALING.md): the
    ε-pair table is materialized and counted anyway (it's the persisted
    input to every later stage), so when it holds ≤ driver_pair_limit
    rows the degree/core/components/border graph logic — a dozen tiny
    Spark jobs at local stage-floor cost — finishes on the driver in one
    bounded collect and rejoins as a broadcast. Above the limit the fully
    distributed formulation below runs unchanged; the plan shape at scale
    is identical either way.

    Cluster ids are min-member-ids (stable, not 0..C-1); use
    dense_label_numbering for compact ids when needed.
    """
    # a grid sweep hoists the eps-join per eps (pairs depend only on eps,
    # not min_samples) and passes it in; ownership (unpersist) stays with
    # whoever built it
    owns_pairs = pairs is None
    if pairs is None:
        pairs = eps_neighbor_pairs(
            df, eps, vector_col=vector_col, id_col=id_col,
            num_lines=num_lines, seed=seed,
        ).persist()

    n_pairs = pairs.count() if driver_pair_limit > 0 else driver_pair_limit + 1
    if n_pairs <= driver_pair_limit:
        rows = [(r[0], r[1]) for r in pairs.collect()]
        if owns_pairs:
            pairs.unpersist()
        deg: dict = {}
        for a, _ in rows:
            deg[a] = deg.get(a, 0) + 1
        core = {a for a, c in deg.items() if c + 1 >= min_samples}

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in rows:
            if a in core and b in core:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        # isolated cores (no core neighbor) are their own cluster
        label = {c: (find(c) if c in parent else c) for c in core}
        for a, b in rows:  # border: min label over adjacent cores
            if a not in core and b in core:
                lb = label[b]
                if a not in label or lb < label[a]:
                    label[a] = lb

        spark = df.sparkSession
        id_type = df.schema[id_col].dataType
        assigned = spark.createDataFrame(
            list(label.items()),
            T.StructType(
                [
                    T.StructField(id_col, id_type),
                    T.StructField("lbl", id_type),
                ]
            ),
        )
        return (
            df.join(F.broadcast(assigned), id_col, "left")
            .withColumn(out_col, F.coalesce(F.col("lbl"), F.lit(-1)))
            .drop("lbl")
        )
    degree = pairs.groupBy("src").agg((F.count(F.lit(1)) + 1).alias("deg"))
    core = degree.where(F.col("deg") >= min_samples).select(
        F.col("src").alias("pid")
    )
    core = core.persist()

    core_edges = (
        pairs.join(core.withColumnRenamed("pid", "src"), "src", "left_semi")
        .join(core.withColumnRenamed("pid", "dst"), "dst", "left_semi")
        .persist()
    )

    # min-label propagation + pointer jumping over core-core edges — the
    # shared connected-components primitive (ε-pairs are already symmetric)
    from .graph import connected_components

    labels = connected_components(
        core_edges, nodes=core, max_iter=max_iter,
        symmetrize=False,
    ).withColumnRenamed("component", "lbl")

    # border points: non-core with a core neighbor → min core label
    border = (
        pairs.join(labels.withColumnRenamed("pid", "dst"), "dst")
        .join(core.withColumnRenamed("pid", "src"), "src", "left_anti")
        .groupBy("src")
        .agg(F.min("lbl").alias("lbl"))
        .withColumnRenamed("src", "pid")
    )
    assigned = labels.unionByName(border)
    return df.join(
        assigned.withColumnRenamed("pid", id_col), id_col, "left"
    ).withColumn(out_col, F.coalesce(F.col("lbl"), F.lit(-1))).drop("lbl")


def dbscan_grid_search(
    df: DataFrame,
    eps_grid: list[float],
    min_samples_grid: list[int],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    use_distributed: bool | None = None,
    single_task_limit: int = 10_000,
) -> list[dict]:
    """M4 — the reference's 10x10 hyperparameter grid with silhouette
    scoring (silhouettes.ipynb:661 c30). Combos yielding < 2 clusters get
    silhouette None, like the reference's skip branch.

    Each combo labels via ``dbscan_distributed`` (the scale path) unless
    the corpus fits a single task's m² working set — there the whole
    sweep runs on ONE bounded collect (the documented single-task
    contract, same as silhouette_exact's): per combo a numpy DBSCAN +
    numpy silhouette, zero Spark jobs, which at test scale beats paying
    the multi-second per-combo stage floor ~4 times per combo.
    ``use_distributed`` forces either path. In the distributed path the
    input is persisted — one scan feeds all |eps|×|ms| combos — and the
    ε-pair table is built once per eps and shared across the min_samples
    axis (it does not depend on min_samples). Silhouette sampling: both
    paths compute the FULL score whenever the clustered subset fits
    sample_size (2000) — the equivalence-tested regime; above that each
    path uses its own documented seeded sample (positional vs
    hash-order), so sampled scores agree only within sampling noise.
    """
    from .clustering import silhouette_exact_distributed, silhouette_numpy

    # persist BEFORE the dispatch count so the count's scan is not
    # thrown away: the distributed branch reuses the cache for the whole
    # sweep, the single-task branch releases it right after its one
    # bounded collect
    df = df.persist()
    n = df.count()
    if use_distributed is None:
        use_distributed = n > single_task_limit

    if not use_distributed:
        pdf = (
            df.select(id_col, vector_col)
            .toPandas()
            .sort_values(id_col, ignore_index=True)
        )
        df.unpersist()
        X = V.stack_vectors(pdf[vector_col])
        results = []
        for eps in eps_grid:
            for ms in min_samples_grid:
                labels = _dbscan_numpy(X, eps, ms)
                mask = labels >= 0
                n_clusters = int(np.unique(labels[mask]).size)
                n_clustered = int(mask.sum())
                sil = None
                if n_clusters >= 2:
                    sil = silhouette_numpy(X[mask], labels[mask])
                results.append(
                    {"eps": eps, "min_samples": ms,
                     "n_clusters": n_clusters, "n_noise": n - n_clustered,
                     "silhouette": sil}
                )
        return results

    results = []
    for eps in eps_grid:
        # the eps-join depends only on eps: build it once per eps and
        # share it across every min_samples combo (|ms|x fewer GEMM
        # stages — the sweep's dominant cost)
        eps_pairs = eps_neighbor_pairs(
            df, eps, vector_col=vector_col, id_col=id_col
        ).persist()
        for ms in min_samples_grid:
            lab = dbscan_distributed(
                df, eps, ms, vector_col, id_col, pairs=eps_pairs
            ).select(id_col, "dbscan_label")
            joined = df.join(lab, id_col)
            clustered = joined.where(F.col("dbscan_label") >= 0)
            n_clusters = clustered.select("dbscan_label").distinct().count()
            n_clustered = clustered.count()
            sil = None
            if n_clusters >= 2:
                sil = silhouette_exact_distributed(
                    clustered, vector_col, "dbscan_label",
                    id_cols=[id_col],
                )
            results.append(
                {"eps": eps, "min_samples": ms, "n_clusters": n_clusters,
                 "n_noise": n - n_clustered, "silhouette": sil}
            )
        eps_pairs.unpersist()
    df.unpersist()
    return results
