"""Graph stage (SURVEY §2.10 G1-G2).

Reference: clusters-as-nodes co-occurrence graph weighted by shared
document_id (analisis-informe.ipynb:2540-2558 c75-c76), greedy-modularity
community detection → 6 communities, modularity 0.2938 weighted / 0.1848
unweighted (c78-c79).

Spark mapping: edge extraction is distributed (similarity.cooccurrence_edges
— the J10 self-join); the graph itself is tiny (37 nodes), so community
detection runs driver-side on networkx, with a pure-python greedy fallback
when networkx is absent. "Spark builds the edge list at scale, the driver
does the tiny graph algorithm."
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import cooccurrence_edges


def build_cluster_graph(
    df: DataFrame, group_col: str, node_col: str
) -> tuple[DataFrame, DataFrame]:
    """G1 — (vertices, weighted edges) DataFrames."""
    vertices = df.select(F.col(node_col).alias("id")).distinct()
    edges = cooccurrence_edges(df, group_col, node_col)
    return vertices, edges


def modularity(edges: list[tuple], communities: list[set], weighted: bool = True) -> float:
    """Newman modularity Q for an undirected weighted graph given a
    community partition. edges: (src, dst, weight)."""
    w = {(min(s, d), max(s, d)): (float(wt) if weighted else 1.0) for s, d, wt in edges}
    two_m = 2.0 * sum(w.values())
    if two_m == 0:
        return 0.0
    deg: dict = {}
    for (s, d), wt in w.items():
        deg[s] = deg.get(s, 0.0) + wt
        deg[d] = deg.get(d, 0.0) + wt
    node_comm = {n: i for i, c in enumerate(communities) for n in c}
    q = 0.0
    for (s, d), wt in w.items():
        if node_comm.get(s) == node_comm.get(d):
            q += 2.0 * wt / two_m
    for c in communities:
        dc = sum(deg.get(n, 0.0) for n in c)
        q -= (dc / two_m) ** 2
    return q


def detect_communities(
    edges_df: DataFrame,
    weighted: bool = True,
    vertices_df: DataFrame | None = None,
) -> dict:
    """G2 — greedy-modularity communities + modularity score.

    Collects the (small) edge list to the driver and runs networkx's
    greedy_modularity_communities; returns {communities: [[node,...]],
    modularity: float, n_communities: int}. Isolated vertices (no edges)
    become singleton communities, as in networkx.
    """
    rows = edges_df.collect()
    edges = [(r["src"], r["dst"], r["weight"]) for r in rows]
    nodes = {r["src"] for r in rows} | {r["dst"] for r in rows}
    if vertices_df is not None:
        nodes |= {r["id"] for r in vertices_df.collect()}
    return detect_communities_kernel(nodes, edges, weighted)


def detect_communities_kernel(nodes, edges, weighted: bool = True) -> dict:
    """Driver-side greedy-modularity kernel (Spark-free; shared with the
    g2 oracle generator). Input is fed to networkx in sorted order so the
    partition is a pure function of the (node, edge) SETS — collection
    order and set-iteration order can't perturb tie-breaking."""
    if not edges:  # edgeless graph: all-singleton partition, Q undefined → 0
        comms_sorted = sorted([n] for n in nodes)
        return {
            "communities": comms_sorted,
            "modularity": 0.0,
            "n_communities": len(comms_sorted),
        }

    nodes_sorted = sorted(nodes)
    edges_sorted = sorted(edges)
    try:
        import networkx as nx
        from networkx.algorithms import community as nxc

        g = nx.Graph()
        g.add_nodes_from(nodes_sorted)
        for s, d, w in edges_sorted:
            g.add_edge(s, d, weight=float(w) if weighted else 1.0)
        comms = [set(c) for c in nxc.greedy_modularity_communities(
            g, weight="weight" if weighted else None
        )]
        q = nxc.modularity(g, comms, weight="weight" if weighted else None)
    except ImportError:  # pragma: no cover - networkx is present here
        comms = _greedy_modularity_fallback(nodes_sorted, edges_sorted, weighted)
        q = modularity(edges_sorted, comms, weighted)

    comms_sorted = sorted(
        (sorted(c) for c in comms), key=lambda c: (-len(c), c)
    )
    return {
        "communities": comms_sorted,
        "modularity": float(q),
        "n_communities": len(comms_sorted),
    }


def _contract_partitions(edges: DataFrame) -> DataFrame:
    """Partition-local union-find contraction: every edge partition is
    collapsed to a star forest (node → partition-local min root) in one
    Arrow pass. The union of per-partition spanning forests preserves the
    exact connectivity of the input, so this is a lossless edge rewrite
    that removes all intra-partition path structure.

    Per-task memory is one dict entry per distinct node in that partition's
    edges — the same order of memory as the hash side of the label join the
    iterative loop would otherwise run, so the 100 TB bound is unchanged
    (size spark.sql.files.maxPartitionBytes / shuffle partitions so a
    partition's node set fits a task, as for every other hash op).

    Output is compacted: root rows (r, r) are dropped — a root resurfaces
    as the dst of its children — EXCEPT when the node carried an explicit
    self-loop edge and ended as its own root, in which case (n, n) is kept
    so single-node components survive (a self-loop row re-reads as a
    self-loop edge, so the marker self-perpetuates through repeated
    contraction passes)."""

    def contract(it):
        parent: dict = {}
        selfloops: set = set()

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in it:
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if a not in parent:
                    parent[a] = a
                if a == b:
                    selfloops.add(a)
                    continue
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # union by min → roots are local minima
        if not parent:
            return
        out_src = [n for n in parent if find(n) != n]
        out_dst = [find(n) for n in out_src]
        for s in selfloops:  # singleton self-loop nodes survive as (n, n)
            if find(s) == s:
                out_src.append(s)
                out_dst.append(s)
        if not out_src:
            return
        yield pd.DataFrame({"src": out_src, "dst": out_dst})

    return edges.mapInPandas(contract, schema=edges.schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    id_col: str = "pid",
    max_iter: int = 50,
    symmetrize: bool = True,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Distributed connected components: two partition-local union-find
    contraction passes (edge partitions collapse to star forests, then a
    hash repartition on node co-locates each node's roots and the second
    pass stitches them) followed by min-label propagation with pointer
    jumping (label <- label(label) each round) on the contracted forest.
    Contraction does the heavy merging in two Arrow passes; the loop only
    reconciles cross-partition chains, which pointer jumping finishes in
    O(log n) rounds. When the contracted forest is small
    (≤ driver_edge_limit rows) the union-find finishes on the driver in a
    single bounded collect instead — the same small-side/large-side split
    Spark applies to broadcast vs shuffle joins. The corpus-scale building
    block shared by DBSCAN core clustering and near-duplicate
    canonicalization.

    Edges are undirected and never need symmetrizing — union-find is
    direction-blind (``symmetrize`` is accepted for API compatibility and
    ignored; the loop adds reversed edges itself on the tiny contracted
    forest). Returns (id_col, component) with component = min member id.
    A self-loop edge (n, n) yields n as a singleton component; isolated
    nodes with no edges at all appear only when supplied via ``nodes``
    (single-column DataFrame).

    Scale: contraction shrinks the edge table to ≤ one edge per distinct
    node before any iteration, so each round shuffles the (small) forest
    once for the neighbor-min and the label table once for the jump; every
    round localCheckpoints eagerly, which both truncates the doubling plan
    tree and serves as the convergence materialization. Superseded label
    frames are plain checkpointed RDDs — no persist leaks.
    """
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # lossless pre-contraction (see _contract_partitions); star forests are
    # connectivity-equivalent, so everything downstream sees ≤ one edge per
    # distinct node per partition instead of the raw edge table. Union-find
    # is direction-blind, so the input is never symmetrized — symmetrizing
    # here would evaluate uncached upstream lineage twice for zero benefit
    # (the ``symmetrize`` flag is kept for API compatibility; only the
    # loop's propagation needs both directions, added below on the tiny
    # contracted forest).
    f1 = _contract_partitions(e0).persist()

    # small-forest fast path — the broadcast-join analogy: once contraction
    # has shrunk the graph to ≤ driver_edge_limit (node, root) rows, finish
    # the union-find on the driver in one collect instead of paying per-round
    # shuffle/checkpoint overhead. Memory is bounded (2 longs per non-isolated
    # node, ~32 MB at the default limit); beyond it the loop engages. The
    # size probe is a parallel count on the persisted forest (NOT
    # limit().collect(), whose incremental partition scale-up would re-run
    # the upstream pipeline serially batch by batch); the collect then
    # reads the cache.
    n_f1 = f1.count() if driver_edge_limit > 0 else driver_edge_limit + 1
    if n_f1 <= driver_edge_limit:
        probe = f1.collect()
        spark = edges.sparkSession
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in ((r[0], r[1]) for r in probe):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        mapping = [(n, find(n)) for n in parent]
        f1.unpersist()
        id_type = edges.schema[src].dataType
        schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField("component", id_type),
            ]
        )
        assigned = spark.createDataFrame(mapping, schema=schema)
        if nodes is None:
            return assigned
        allpts = nodes.select(F.col(nodes.columns[0]).alias(id_col)).distinct()
        return (
            allpts.join(F.broadcast(assigned), id_col, "left")
            .select(
                id_col,
                F.coalesce("component", F.col(id_col)).alias("component"),
            )
        )

    # loop path: a second contraction after repartitioning on node stitches
    # cross-partition chains first, then min-label propagation reconciles
    # what remains (the loop needs both edge directions, added here on the
    # contracted forest — tiny relative to the input edge table)
    forest = _contract_partitions(f1.repartition("src")).persist()
    e = forest.unionByName(
        forest.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    pts = e.select(F.col("src").alias(id_col)).distinct()
    if nodes is not None:
        pts = pts.unionByName(
            nodes.select(F.col(nodes.columns[0]).alias(id_col))
        ).distinct()
    labels = pts.withColumn("lbl", F.col(id_col)).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neigh_min = (
            e.join(labels.withColumnRenamed(id_col, "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("src", id_col)
        )
        stepped = labels.join(neigh_min, id_col, "left").select(
            id_col,
            F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
            (F.coalesce("nlbl", "lbl") < F.col("lbl")).alias("chg"),
        )
        # pointer jumping: follow lbl one hop (label of my label)
        jump = labels.select(
            F.col(id_col).alias("lbl"), F.col("lbl").alias("jlbl")
        )
        new_labels = (
            stepped.join(jump, "lbl", "left")
            .select(
                id_col,
                F.least("lbl", F.coalesce("jlbl", "lbl")).alias("lbl"),
                (
                    F.col("chg") | (F.coalesce("jlbl", "lbl") < F.col("lbl"))
                ).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where("chg").limit(1).count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    e.unpersist()
    forest.unpersist()
    f1.unpersist()
    return labels.withColumnRenamed("lbl", "component")


def _greedy_modularity_fallback(nodes, edges, weighted: bool) -> list[set]:
    """CNM-style greedy merge: start singleton, merge the pair with max
    modularity gain until no positive gain remains."""
    comms = [{n} for n in nodes]
    best_q = modularity(edges, comms, weighted)
    improved = True
    while improved and len(comms) > 1:
        improved = False
        best_pair, best_gain = None, 0.0
        for i in range(len(comms)):
            for j in range(i + 1, len(comms)):
                trial = [c for k, c in enumerate(comms) if k not in (i, j)]
                trial.append(comms[i] | comms[j])
                gain = modularity(edges, trial, weighted) - best_q
                if gain > best_gain:
                    best_gain, best_pair = gain, (i, j)
        if best_pair:
            i, j = best_pair
            merged = comms[i] | comms[j]
            comms = [c for k, c in enumerate(comms) if k not in (i, j)] + [merged]
            best_q += best_gain
            improved = True
    return comms


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    iterations: int = 8,
    checkpoint_every: int = 0,
    driver_node_limit: int = 10_000,
) -> DataFrame:
    """Weighted PageRank over an undirected graph (G2-adjacent centrality
    — the importance score TextRank/link-quality weighting pipelines put
    next to community structure), as a FIXED-iteration power method in
    pure DataFrame algebra — the classic edge-partitioned formulation:

    rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u) · w(u,v)/wdeg(u)

    The symmetrized edge list is normalized ONCE into a persisted
    transition frame (src, dst, p = w/wdeg); each of the ``iterations``
    rounds is then one equi-join of the (nodes-sized) rank vector onto
    that frame plus one combinable groupBy — partial aggregation
    map-side, shuffle volume bounded by |edges| + |nodes| per round,
    never a cartesian. Dangling mass is NOT redistributed (nodes without
    out-edges leak their damped mass — the simple variant; both engines
    of the oracle pair compute the same recurrence, so the deviation is
    shared). N is one bounded driver scalar (`vertices.count()`).

    At 100 TB the loop is the standard Pregel-free PageRank: the
    transition frame shuffles once per round on src (AQE coalesces the
    tiny rank side), and a fixed iteration count keeps the plan depth
    static — callers wanting convergence detection should compare
    successive vectors themselves (one extra agg per round). For
    iteration counts well past the default, ``checkpoint_every=k``
    localCheckpoints the rank vector every k rounds, truncating the
    otherwise-doubling lineage tree (the connected_components
    discipline); results are bit-identical either way
    (pytest-pinned).

    Small-graph fast path (the connected_components / g2 discipline —
    "Spark builds the edge list at scale, the driver does the tiny
    graph algorithm"): when the graph fits the driver bounds
    (``driver_node_limit`` nodes AND ``driver_edge_limit`` edge rows),
    the 8-round loop runs as vectorized numpy bincount passes over ONE
    bounded collect instead of paying 2×iterations distributed stage
    floors — same recurrence, same values up to summation-order ulps
    (the queries' 6dp round absorbs both engines' noise; the
    numpy-vs-distributed equality is pytest-pinned). Pass
    ``driver_node_limit=0`` to force the distributed loop.

    Returns (id_col, rank). In the distributed path the transition frame
    stays persisted until the session-wide ``release_caches``."""
    n = vertices.count()
    base = (1.0 - 0.85) / n
    if 0 < n <= driver_node_limit and edges.count() <= 2_000_000:
        import numpy as np

        node_rows = [r[0] for r in vertices.select("id").collect()]
        idx = {node: i for i, node in enumerate(node_rows)}
        # endpoints outside ``vertices`` contribute nothing in the
        # distributed path (the rank join drops them) — mirror that
        erows = [
            r
            for r in edges.select("src", "dst", "weight").collect()
            if r[0] in idx and r[1] in idx
        ]
        s = np.fromiter(
            (idx[r[0]] for r in erows), dtype=np.int64, count=len(erows)
        )
        d = np.fromiter(
            (idx[r[1]] for r in erows), dtype=np.int64, count=len(erows)
        )
        w = np.fromiter(
            (float(r[2]) for r in erows), dtype=np.float64, count=len(erows)
        )
        ss = np.concatenate([s, d])  # symmetrize
        dd = np.concatenate([d, s])
        ww = np.concatenate([w, w])
        wdeg_v = np.bincount(ss, weights=ww, minlength=n)
        p = ww / wdeg_v[ss]
        r = np.full(n, 1.0 / n)
        for _ in range(iterations):
            contrib = np.bincount(dd, weights=r[ss] * p, minlength=n)
            r = base + 0.85 * contrib
        return vertices.sparkSession.createDataFrame(
            [(node, float(r[i])) for node, i in idx.items()],
            schema=vertices.select("id").schema.add("rank", "double"),
        )

    w_d = F.col("weight").cast("double")
    sym = edges.select(
        F.col("src").alias("__s"), F.col("dst").alias("__d"), w_d.alias("__w")
    ).unionByName(
        edges.select(
            F.col("dst").alias("__s"), F.col("src").alias("__d"), w_d.alias("__w")
        )
    )
    wdeg = sym.groupBy("__s").agg(F.sum("__w").alias("__wdeg"))
    trans = (
        sym.join(wdeg, "__s")
        .select("__s", "__d", (F.col("__w") / F.col("__wdeg")).alias("__p"))
        .persist()
    )
    ranks = vertices.select(F.col("id"), F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        contrib = (
            trans.join(ranks, trans["__s"] == ranks["id"])
            .select(
                F.col("__d").alias("id"),
                (F.col("rank") * F.col("__p")).alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__sum"))
        )
        ranks = vertices.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.lit(0.85) * F.coalesce(F.col("__sum"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def bfs_distances(
    edges: DataFrame,
    vertices: DataFrame,
    source,
    max_hops: int = 6,
    driver_node_limit: int = 10_000,
) -> DataFrame:
    """Bounded-depth BFS hop distances from ``source`` over an
    undirected graph — pagerank's label-propagation sibling:
    dist_{t+1}(v) = min(dist_t(v), 1 + min_{u~v} dist_t(u)), run for
    ``max_hops`` fixed rounds (each ONE equi-join of the nodes-sized
    distance vector + one combinable min-agg; shuffle bounded by
    |edges|+|nodes| per round). Unreached nodes return -1.

    Small-graph fast path (the CC / pagerank discipline): within the
    driver bounds the BFS runs as a plain python frontier walk over one
    bounded collect — identical distances, no per-round stage floors.
    Pass ``driver_node_limit=0`` to force the distributed loop
    (pytest-pinned equal)."""
    n = vertices.count()
    if 0 < n <= driver_node_limit and edges.count() <= 2_000_000:
        node_rows = [r[0] for r in vertices.select("id").collect()]
        adj: dict = {v: [] for v in node_rows}
        for r in edges.select("src", "dst").collect():
            if r[0] in adj and r[1] in adj:
                adj[r[0]].append(r[1])
                adj[r[1]].append(r[0])
        dist = {source: 0} if source in adj else {}
        frontier = [source] if source in adj else []
        for hop in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = hop
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        out = vertices.sparkSession.createDataFrame(
            [(v, int(dist.get(v, -1))) for v in node_rows],
            schema=vertices.select("id").schema.add("hop_dist", "integer"),
        )
        return out

    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    distf = vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0))
        .otherwise(F.lit(None))
        .alias("__d"),
    )
    for _ in range(max_hops):
        reach = (
            sym.join(distf, sym["src"] == distf["id"])
            .where(F.col("__d").isNotNull())
            .select(F.col("dst").alias("id"), (F.col("__d") + 1).alias("__nd"))
            .groupBy("id")
            .agg(F.min("__nd").alias("__nd"))
        )
        distf = distf.join(reach, "id", "left").select(
            "id", F.least("__d", "__nd").alias("__d")
        )
    return distf.select(
        "id",
        F.coalesce(F.col("__d"), F.lit(-1)).cast("int").alias("hop_dist"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    the degree-ordered wedge-check algorithm (Schank/Wagner; the shape
    MapReduce/GraphX use): orient every edge from the lower-(degree, id)
    endpoint to the higher, enumerate wedges anchored at each low vertex,
    and close them with ONE semi-check join against the oriented edge set.

    Degree ordering is the 100 TB lever: wedge volume is Σ out_deg(v)²
    and orienting toward higher degree caps out-degree at O(√m), so the
    intermediate is O(m^1.5) instead of Σ deg² (unbounded under skew —
    a celebrity node with 10M neighbors would otherwise emit 10M² wedges).
    Three shuffles total: the degree agg, the wedge self-join on the
    anchor, the closure join on (b, c). Each triangle is counted exactly
    once (its rank-lowest vertex anchors the only closing wedge), then
    re-attributed to all 3 corners with one explode + count.
    """
    sym = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    sym = sym.unionByName(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient low-(degree, id) -> high; struct comparison is lexicographic
    with_deg = (
        sym.join(deg, "u")
        .withColumnRenamed("d", "du")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    oriented = with_deg.where(
        F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))
    # wedges at the anchor a: (a,b) x (a,c) with the candidate third edge
    # normalized to plain id order — the closure check is then ONE
    # equi-join on (lo, hi) against the id-canonical edge set (an OR of
    # the two orientations would force a nested-loop join).
    w1 = oriented.select("a", "b")
    w2 = oriented.select(F.col("a"), F.col("b").alias("c"))
    wedges = (
        w1.join(w2, "a")
        .where(F.col("b") < F.col("c"))  # each unordered pair once, id order
        .select("a", F.col("b").alias("lo"), F.col("c").alias("hi"))
    )
    canon = sym.where(F.col("u") < F.col("v")).select(
        F.col("u").alias("lo"), F.col("v").alias("hi")
    )
    tri = wedges.join(canon, ["lo", "hi"], "inner").select(
        "a", F.col("lo").alias("b"), F.col("hi").alias("c")
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
