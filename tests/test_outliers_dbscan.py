"""M4/M6-M9 — outlier suite + DBSCAN kernels on planted anomalies."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import dbscan, outliers


@pytest.fixture(scope="module")
def clustered(spark):
    """Two tight clusters + one far outlier per cluster."""
    rng = np.random.RandomState(1)
    rows = []
    i = 0
    for c, center in [(0, np.zeros(4)), (1, np.full(4, 20.0))]:
        for _ in range(60):
            rows.append((i, c, (center + rng.normal(scale=0.3, size=4)).tolist()))
            i += 1
        rows.append((i, c, (center + 8.0).tolist()))  # planted outlier
        i += 1
    return spark.createDataFrame(rows, "id long, cluster int, v array<float>").cache()


@pytest.fixture(scope="module")
def with_dist(clustered):
    from vector_search_optimization_spark.functions import vector as V
    from vector_search_optimization_spark.operators import vector_agg as VA

    cents = VA.group_vector_mean(clustered, "cluster", "v")
    return clustered.join(cents, "cluster").withColumn(
        "dist", V.euclidean("v", "centroid")
    ).cache()


def test_zscore_outliers_flag_planted(with_dist):
    out = outliers.zscore_outliers(with_dist, "cluster", "dist")
    flagged = {r.id for r in out.where("is_outlier").collect()}
    assert flagged == {60, 121}  # exactly the planted points


def test_percentile_outliers_rate(with_dist):
    out = outliers.percentile_outliers(with_dist, "cluster", "dist")
    per = out.groupBy("cluster").agg(
        F.sum(F.col("is_outlier").cast("int")).alias("n_out"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    for r in per:
        assert 0 < r.n_out <= np.ceil(0.05 * r.n) + 1
    flagged = {r.id for r in out.where("is_outlier").collect()}
    assert {60, 121} <= flagged  # planted points are in the tail


def test_lof_flags_planted(clustered):
    out = outliers.lof_outliers(clustered, "cluster", "v", "id", n_neighbors_frac=0.25)
    flagged = {r.id for r in out.where("is_outlier").collect()}
    assert {60, 121} <= flagged
    lof_scores = {r.id: r.lof for r in out.collect()}
    assert lof_scores[60] > 2.0  # far point → strongly outlying
    inlier_scores = [v for k, v in lof_scores.items() if k not in (60, 121)]
    assert np.median(inlier_scores) == pytest.approx(1.0, abs=0.2)


def test_mahalanobis_flags_planted(clustered):
    out = outliers.mahalanobis_outliers(clustered, "cluster", "v", "id")
    flagged = {r.id for r in out.where("is_outlier").collect()}
    assert {60, 121} <= flagged


def test_fast_mcd_resists_masking(spark):
    """Clustered contamination (10 tight planted outliers in 70 points)
    inflates the empirical covariance enough to mask itself; FastMCD's
    robust scatter keeps the planted points cleanly separated — the
    MinCovDet behavior the reference relies on (main-script1.ipynb:4140)."""
    rng = np.random.RandomState(5)
    X_in = rng.normal(scale=0.5, size=(60, 3))
    X_out = np.array([6.0, 6.0, 6.0]) + rng.normal(scale=0.05, size=(10, 3))
    rows = [
        (i, 0, x.tolist()) for i, x in enumerate(np.vstack([X_in, X_out]))
    ]
    df = spark.createDataFrame(rows, "id long, cluster int, v array<double>")

    def scores(method):
        out = outliers.mahalanobis_outliers(
            df, "cluster", "v", "id", method=method
        ).toPandas().set_index("id").sort_index()
        return out["mahal"]

    mcd = scores("mcd")
    assert mcd[60:].min() > mcd[:60].max()  # complete separation
    emp = scores("empirical")
    assert emp[60:].min() < emp[:60].max()  # empirical masks the cluster
    # and the registered default (mcd) flags only planted points at 95th pct
    flagged = outliers.mahalanobis_outliers(
        df, "cluster", "v", "id"
    ).where("is_outlier").toPandas()
    assert set(flagged["id"]) <= set(range(60, 70))


def test_dbscan_kernel_blobs_and_noise(spark):
    rng = np.random.RandomState(2)
    rows = []
    i = 0
    for center in (np.zeros(2), np.full(2, 10.0)):
        for _ in range(40):
            rows.append((i, (center + rng.normal(scale=0.2, size=2)).tolist()))
            i += 1
    rows.append((i, [5.0, 5.0]))  # isolated noise point
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lab = dbscan.dbscan_kernel(df, eps=1.0, min_samples=5)
    pdf = lab.toPandas().set_index("vec_id").sort_index()
    assert pdf.loc[80, "dbscan_label"] == -1
    assert len(set(pdf.loc[:39, "dbscan_label"])) == 1
    assert len(set(pdf.loc[40:79, "dbscan_label"])) == 1
    assert pdf.loc[0, "dbscan_label"] != pdf.loc[40, "dbscan_label"]


def test_dbscan_distributed_matches_kernel(spark):
    rng = np.random.RandomState(3)
    rows = []
    i = 0
    for center in (np.zeros(2), np.full(2, 8.0)):
        for _ in range(25):
            rows.append((i, (center + rng.normal(scale=0.3, size=2)).tolist()))
            i += 1
    rows.append((i, [4.0, 4.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k = dbscan.dbscan_kernel(df, eps=1.2, min_samples=4).toPandas().set_index("vec_id")
    d = (
        dbscan.dbscan_distributed(df, eps=1.2, min_samples=4)
        .select("vec_id", "dbscan_label")
        .toPandas()
        .set_index("vec_id")
    )
    # same partition structure (labels themselves differ: min-id vs 0..C-1)
    for frame in (k, d):
        frame.sort_index(inplace=True)
    kmap = k.groupby("dbscan_label").groups
    dmap = d.groupby("dbscan_label").groups
    ksets = sorted([tuple(sorted(v)) for kk, v in kmap.items() if kk != -1])
    dsets = sorted([tuple(sorted(v)) for kk, v in dmap.items() if kk != -1])
    assert ksets == dsets
    assert set(k[k.dbscan_label == -1].index) == set(d[d.dbscan_label == -1].index)


def test_dbscan_driver_dispatch_matches_distributed_loop(spark):
    """The small-graph driver finish (default) and the fully distributed
    path (driver_pair_limit=0) must label identically — exact same
    min-member-id clusters, borders, and noise."""
    rng = np.random.RandomState(7)
    rows = []
    i = 0
    for center in (np.zeros(2), np.full(2, 8.0), np.array([0.0, 9.0])):
        for _ in range(20):
            rows.append((i, (center + rng.normal(scale=0.3, size=2)).tolist()))
            i += 1
    rows.append((i, [4.0, 4.0]))  # noise
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(eps=1.2, min_samples=4)
    fast = {
        r.vec_id: r.dbscan_label
        for r in dbscan.dbscan_distributed(df, **kw).collect()
    }
    loop = {
        r.vec_id: r.dbscan_label
        for r in dbscan.dbscan_distributed(
            df, driver_pair_limit=0, **kw
        ).collect()
    }
    assert fast == loop
    assert -1 in fast.values()


def test_eps_neighbor_pairs_complete_vs_brute_force(spark):
    """Grid blocking with 3^L multi-probe must lose no true ε-pair."""
    rng = np.random.RandomState(7)
    rows = [(i, rng.normal(size=4).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    eps = 1.8
    got = {
        (r.src, r.dst)
        for r in dbscan.eps_neighbor_pairs(df, eps).collect()
    }
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    # same GEMM formula as the kernels
    d = np.sqrt(
        np.maximum((X**2).sum(1)[:, None] - 2 * X @ X.T + (X**2).sum(1)[None, :], 0)
    )
    want = {
        (i, j)
        for i in range(len(X))
        for j in range(len(X))
        if i != j and d[i, j] <= eps
    }
    assert got == want
    assert len(want) > 50  # fixture actually exercises the join


def test_dbscan_distributed_chain_pointer_jumping(spark):
    """A 40-point chain (diameter 39) must converge in far fewer rounds
    than its diameter — pointer jumping makes propagation O(log n)."""
    rows = [(i, [float(i), 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lab = (
        dbscan.dbscan_distributed(df, eps=1.5, min_samples=2, max_iter=10)
        .select("vec_id", "dbscan_label")
        .toPandas()
    )
    assert set(lab["dbscan_label"]) == {0}  # one cluster, min-member id 0


def test_dbscan_grid_search_shape(spark):
    rng = np.random.RandomState(4)
    rows = [(i, rng.normal(size=2).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = dbscan.dbscan_grid_search(df, [0.5, 1.0], [3, 5])
    assert len(res) == 4
    assert all({"eps", "min_samples", "n_clusters", "silhouette"} <= set(r) for r in res)


def test_dbscan_grid_search_distributed_matches_kernel_path(spark):
    """The sweep through dbscan_distributed must reproduce the single-task
    kernel sweep: same cluster counts, same silhouettes per combo."""
    rng = np.random.RandomState(6)
    rows = []
    i = 0
    for center in (np.zeros(2), np.full(2, 6.0)):
        for _ in range(25):
            rows.append((i, (center + rng.normal(scale=0.3, size=2)).tolist()))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    grid = ([0.8, 1.2], [3, 5])
    k = dbscan.dbscan_grid_search(df, *grid, use_distributed=False)
    d = dbscan.dbscan_grid_search(df, *grid, use_distributed=True)
    assert len(k) == len(d) == 4
    for rk, rd in zip(k, d):
        assert (rk["eps"], rk["min_samples"]) == (rd["eps"], rd["min_samples"])
        assert rk["n_clusters"] == rd["n_clusters"]
        if rk["silhouette"] is None:
            assert rd["silhouette"] is None
        else:
            assert abs(rk["silhouette"] - rd["silhouette"]) < 1e-9
