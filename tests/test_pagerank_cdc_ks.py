"""Round-6 additions: PageRank centrality, quality-aware dedup survivor
selection, snapshot diff (CDC), and the exact two-sample KS statistic.

Each operator is pinned against an independent driver-side computation
on planted inputs (numpy power method for PageRank; hand-enumerated
classifications for CDC; closed-form D for KS), not against its own
registered oracle — the oracle parity test covers that side.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import dedup, drift, upsert
from vector_search_optimization_spark.operators import graph as GR
from vector_search_optimization_spark.session import release_caches


# --- PageRank ---------------------------------------------------------------


def _numpy_pagerank(nodes, edges, damping=0.85, iterations=8):
    """Reference power method: same simple no-dangling-redistribution
    variant, same iteration count."""
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for s, d, wt in edges:
        w[idx[s], idx[d]] += wt
        w[idx[d], idx[s]] += wt
    out = w.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for i in range(n):
            if out[i] > 0:
                contrib += r[i] * w[i] / out[i]
        r = (1.0 - damping) / n + damping * contrib
    return {node: r[idx[node]] for node in nodes}


@pytest.mark.parametrize("node_limit", [10_000, 0])
def test_pagerank_matches_numpy_power_method(spark, node_limit):
    """node_limit=10_000 → driver fast path; 0 → distributed loop.
    Both must match the reference power method (and hence each other)
    to summation-order precision."""
    nodes = ["a", "b", "c", "d", "e"]
    edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "d", 3.0)]
    vdf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, weight double")
    pr = GR.pagerank(edf, vdf, driver_node_limit=node_limit)
    got = {r["id"]: r["rank"] for r in pr.collect()}
    want = _numpy_pagerank(nodes, edges)
    assert set(got) == set(want)
    for n in nodes:
        assert got[n] == pytest.approx(want[n], rel=1e-12), n
    release_caches(pr)


def test_pagerank_star_center_dominates_and_isolated_gets_base(spark):
    # star: center x linked to 4 leaves; plus isolated node z
    edges = [("x", f"l{i}", 1.0) for i in range(4)]
    nodes = ["x", "z"] + [f"l{i}" for i in range(4)]
    vdf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, weight double")
    pr = GR.pagerank(edf, vdf)
    got = {r["id"]: r["rank"] for r in pr.collect()}
    assert got["x"] == max(got.values())
    # isolated node receives no contributions: exactly the base term
    assert got["z"] == pytest.approx((1.0 - 0.85) / len(nodes), rel=0, abs=0)
    # leaked dangling mass ⇒ total strictly below 1, but positive everywhere
    assert 0 < sum(got.values()) <= 1.0 + 1e-12
    release_caches(pr)


def test_pagerank_checkpointing_is_bit_identical(spark):
    nodes = ["a", "b", "c", "d"]
    edges = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "d", 1.0), ("d", "a", 3.0)]
    vdf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, weight double")
    plain = {
        r["id"]: r["rank"]
        for r in GR.pagerank(
            edf, vdf, iterations=6, driver_node_limit=0
        ).collect()
    }
    ckpt = {
        r["id"]: r["rank"]
        for r in GR.pagerank(
            edf, vdf, iterations=6, checkpoint_every=2, driver_node_limit=0
        ).collect()
    }
    assert plain == ckpt  # exact float equality — same arithmetic


# --- keep-best dedup ---------------------------------------------------------


def test_keep_best_elects_highest_quality_with_id_tiebreak(spark):
    # group {1,2,3} transitively linked; 2 has the best quality.
    # group {7,8}: equal quality → min id 7 wins.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    quality = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 30), (7, 20), (8, 20), (9, 99)],
        "doc_id long, q long",
    )
    out = {
        r["group_id"]: r.asDict()
        for r in dedup.keep_best_duplicate_groups(pairs, quality).collect()
    }
    assert set(out) == {1, 7}  # component label = min member id; 9 untouched
    g1, g7 = out[1], out[7]
    assert g1["group_size"] == 3
    assert g1["kept_doc_id"] == 2 and g1["kept_quality"] == 50
    assert g1["discarded_quality"] == 40
    assert g7["group_size"] == 2
    assert g7["kept_doc_id"] == 7 and g7["kept_quality"] == 20
    assert g7["discarded_quality"] == 20


# --- snapshot diff ------------------------------------------------------------


def test_snapshot_diff_classifies_all_four_ways(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 31), (4, "d", 40)],
        "k long, s string, v long",
    )
    got = {
        r["k"]: r["change_type"]
        for r in upsert.snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_snapshot_diff_null_and_delimiter_safety(spark):
    """NULL is not dropped from the fingerprint (concat_ws would make
    (a, NULL, b) ≡ (a, b, NULL)) and values containing the join
    delimiter cannot re-segment across fields."""
    old = spark.createDataFrame(
        [(1, "a", None, "b"), (2, "a|v|b", "c", "x")],
        "k long, c1 string, c2 string, c3 string",
    )
    new = spark.createDataFrame(
        [(1, "a", "b", None), (2, "a", "b|v|c", "x")],
        "k long, c1 string, c2 string, c3 string",
    )
    got = {
        r["k"]: r["change_type"]
        for r in upsert.snapshot_diff(
            old, new, ["k"], ["c1", "c2", "c3"]
        ).collect()
    }
    assert got == {1: "changed", 2: "changed"}

    # and a NULL that stays NULL on both sides is unchanged
    old2 = spark.createDataFrame([(1, None, "z")], "k long, a string, b string")
    new2 = spark.createDataFrame([(1, None, "z")], "k long, a string, b string")
    [r] = upsert.snapshot_diff(old2, new2, ["k"], ["a", "b"]).collect()
    assert r["change_type"] == "unchanged"


def test_snapshot_diff_composite_key(spark):
    old = spark.createDataFrame([(1, "x", 5)], "k1 long, k2 string, v long")
    new = spark.createDataFrame([(1, "y", 5)], "k1 long, k2 string, v long")
    got = {
        (r["k1"], r["k2"]): r["change_type"]
        for r in upsert.snapshot_diff(
            old, new, ["k1", "k2"], ["v"]
        ).collect()
    }
    assert got == {(1, "x"): "removed", (1, "y"): "added"}


# --- KS two-sample -------------------------------------------------------------


def _ks_rows(spark, rows):
    df = spark.createDataFrame(
        rows, "g string, value double, is_a boolean"
    )
    return {
        r["g"]: r.asDict()
        for r in drift.ks_two_sample(df, "g", "value", "is_a").collect()
    }


def test_ks_identical_samples_is_zero(spark):
    rows = [("g", float(v), tag) for v in (1, 2, 3) for tag in (True, False)]
    out = _ks_rows(spark, rows)
    assert out["g"]["d_num"] == 0 and out["g"]["ks_stat"] == 0.0


def test_ks_disjoint_samples_is_one(spark):
    rows = [("g", 1.0, True), ("g", 2.0, True), ("g", 10.0, False)]
    out = _ks_rows(spark, rows)
    g = out["g"]
    assert g["n_a"] == 2 and g["n_b"] == 1
    assert g["d_num"] == g["n_a"] * g["n_b"]  # fully separated → D = 1
    assert g["ks_stat"] == 1.0


def test_ks_known_value_and_empty_side_dropped(spark):
    # A = {1, 3}, B = {2, 3, 4}: CDF gaps at v=1: |1/2-0| = 1/2 (num 3),
    # v=2: |1/2-1/3| (num 1), v=3: |1-2/3| (num 2), v=4: 0 → D = 1/2
    rows = [
        ("g", 1.0, True), ("g", 3.0, True),
        ("g", 2.0, False), ("g", 3.0, False), ("g", 4.0, False),
        ("only_a", 1.0, True),  # no B sample → dropped
    ]
    out = _ks_rows(spark, rows)
    assert set(out) == {"g"}
    g = out["g"]
    assert (g["n_a"], g["n_b"], g["d_num"]) == (2, 3, 3)
    assert g["ks_stat"] == pytest.approx(0.5, rel=0, abs=0)


def test_bfs_distances_paths_agree_and_bound_unreached(spark):
    # path graph a-b-c-d plus isolated z; source a
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)]
    nodes = ["a", "b", "c", "d", "z"]
    vdf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, weight double")
    fast = {
        r["id"]: r["hop_dist"]
        for r in GR.bfs_distances(edf, vdf, "a").collect()
    }
    dist = {
        r["id"]: r["hop_dist"]
        for r in GR.bfs_distances(edf, vdf, "a", driver_node_limit=0).collect()
    }
    assert fast == dist == {"a": 0, "b": 1, "c": 2, "d": 3, "z": -1}

    # depth bound: with max_hops=2, d is out of reach on both paths
    fast2 = {
        r["id"]: r["hop_dist"]
        for r in GR.bfs_distances(edf, vdf, "a", max_hops=2).collect()
    }
    dist2 = {
        r["id"]: r["hop_dist"]
        for r in GR.bfs_distances(
            edf, vdf, "a", max_hops=2, driver_node_limit=0
        ).collect()
    }
    assert fast2 == dist2
    assert fast2["d"] == -1 and fast2["c"] == 2


def test_triangle_count_matches_networkx(spark):
    """Independent oracle: the distributed degree-ordered wedge count must
    equal networkx's per-node triangle counts on a random-ish graph with
    skewed degrees (a hub, a clique, pendants)."""
    nx = pytest.importorskip("networkx")
    g = nx.Graph()
    g.add_edges_from(nx.complete_graph(6).edges)          # clique 0-5
    g.add_edges_from((0, i) for i in range(6, 20))        # hub fan-out
    g.add_edges_from([(6, 7), (7, 8), (8, 6), (19, 20)])  # side triangle + pendant
    edges = spark.createDataFrame(
        [(str(u), str(v)) for u, v in g.edges], "src string, dst string"
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in GR.triangle_count(edges).collect()
    }
    want = {str(n): c for n, c in nx.triangles(g).items() if c > 0}
    assert got == want


def test_triangle_count_ignores_duplicates_loops_and_direction(spark):
    """Dup edges, reversed dups, and self-loops must not change counts."""
    base = [("a", "b"), ("b", "c"), ("a", "c")]
    noisy = base + [("b", "a"), ("c", "b"), ("a", "a"), ("a", "b")]
    e1 = spark.createDataFrame(base, "src string, dst string")
    e2 = spark.createDataFrame(noisy, "src string, dst string")
    r1 = sorted(map(tuple, GR.triangle_count(e1).collect()))
    r2 = sorted(map(tuple, GR.triangle_count(e2).collect()))
    assert r1 == r2 == [("a", 1), ("b", 1), ("c", 1)]


def test_triangle_count_closure_is_equi_join(spark):
    """The wedge-closure join must plan as an equi-join (hash or sort-merge)
    — an OR-of-orientations condition would silently degrade to a
    nested-loop over the wedge set."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    plan = (
        GR.triangle_count(edges)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
