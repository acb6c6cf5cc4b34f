"""Grid-based exact ranking statistics (operators/ranking_stats.py):
ROC-AUC with exact tie half-credit and Lorenz/Pareto concentration with
exact inside-tie-cell cutoffs — unit semantics beyond the automatic
oracle-parity coverage of evt_value_auc / customer_pareto_lorenz /
corpus_zipf_slope / evt_lag_correlation / evt_type_trend_ols."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as m
from vector_search_optimization_spark.operators import ranking_stats as RKS


def _auc_bruteforce(pos, neg):
    """Reference O(n²) AUC with half-credit ties."""
    wins = sum(1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg)
    return wins / (len(pos) * len(neg))


# ---------------------------------------------------------------------------
# exact_auc_by_grid
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "pos,neg",
    [
        ([5, 6, 7], [1, 2, 3]),          # perfect separation → 1.0
        ([1, 2, 3], [5, 6, 7]),          # perfectly wrong → 0.0
        ([3, 3, 3], [3, 3, 3]),          # all tied → 0.5
        ([1, 4, 4, 9], [2, 4, 7, 7]),    # mixed with cross-class ties
        ([10], [10, 20, 5]),             # single positive
    ],
)
def test_auc_matches_bruteforce(spark, pos, neg):
    rows = [(v, True) for v in pos] + [(v, False) for v in neg]
    df = spark.createDataFrame(rows, "cents long, label boolean")
    got = RKS.exact_auc_by_grid(
        df, F.col("cents"), F.col("label")
    ).first()
    want = _auc_bruteforce(pos, neg)
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["auc"] == pytest.approx(want, abs=0)  # exact, not approx
    # the doubled numerator is the exact integer 2 * wins
    assert got["auc_num2"] == round(2 * want * len(pos) * len(neg))


def test_auc_partition_invariant(spark):
    """The grid aggregate is combinable: 1 vs 32 input partitions must
    produce the identical exact integers."""
    rows = [(i % 17, i % 3 == 0) for i in range(500)]
    one = spark.createDataFrame(rows, "cents long, label boolean").coalesce(1)
    many = spark.createDataFrame(rows, "cents long, label boolean").repartition(32)
    a = RKS.exact_auc_by_grid(one, F.col("cents"), F.col("label")).first()
    b = RKS.exact_auc_by_grid(many, F.col("cents"), F.col("label")).first()
    assert a["auc_num2"] == b["auc_num2"] and a["auc"] == b["auc"]


# ---------------------------------------------------------------------------
# lorenz_points_by_grid
# ---------------------------------------------------------------------------


def test_lorenz_hand_computed_with_tie_cell_cutoff(spark):
    """10 entities, revenues [100×1, 50×4, 10×5]; total = 350.
    top 10% → k=1 → 100/350; top 20% → k=2 → 150/350;
    top 50% → k=5 → cutoff lands INSIDE the 50-tie cell:
    100 + 4×50 = 300 → 300/350."""
    vals = [100] + [50] * 4 + [10] * 5
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "e long, c long")
    out = {
        r["top_pct"]: r
        for r in RKS.lorenz_points_by_grid(df, "c", [10, 20, 50]).collect()
    }
    assert out[10]["k_entities"] == 1 and out[10]["top_cents"] == 100
    assert out[20]["k_entities"] == 2 and out[20]["top_cents"] == 150
    assert out[50]["k_entities"] == 5 and out[50]["top_cents"] == 300
    assert out[50]["share"] == 300 / 350


def test_lorenz_k_is_ceiling(spark):
    """k = ceil(q%·n): 3 entities at top 50% → k = 2 (not 1)."""
    df = spark.createDataFrame([(1, 30), (2, 20), (3, 10)], "e long, c long")
    row = RKS.lorenz_points_by_grid(df, "c", [50]).first()
    assert row["k_entities"] == 2 and row["top_cents"] == 50


def test_lorenz_shares_monotone_on_sf(spark, sf_small):
    out = m.queries()["customer_pareto_lorenz"](spark, sf_small).collect()
    shares = [r["share"] for r in out]
    assert shares == sorted(shares)
    assert all(0.0 < s <= 1.0 for s in shares)
    # top q% of purchasers holds at least q% of revenue (head-heavy or
    # equal — sorted-desc prefix dominates the uniform share)
    for r in out:
        assert r["share"] >= r["top_pct"] / 100.0 - 1e-12


# ---------------------------------------------------------------------------
# registered-query semantics on the tiny SF
# ---------------------------------------------------------------------------


def test_evt_value_auc_bounds_and_anchor(spark, sf_small):
    row = m.queries()["evt_value_auc"](spark, sf_small).first()
    assert 0.0 <= row["auc"] <= 1.0
    assert row["auc_num2"] <= 2 * row["n_pos"] * row["n_neg"]
    assert row["auc"] == row["auc_num2"] / (2.0 * row["n_pos"] * row["n_neg"])


def test_zipf_slope_negative_and_fit_sane(spark, sf_small):
    row = m.queries()["corpus_zipf_slope"](spark, sf_small).first()
    assert row["zipf_slope"] < 0.0  # frequency falls with rank
    assert 0.0 <= row["r2"] <= 1.0
    # k_used is the ACTUAL fitted point count: min(vocab, 500)
    assert row["k_used"] == min(row["vocab_size"], 500)


def test_lag_correlation_shape_and_range(spark, sf_small):
    out = m.queries()["evt_lag_correlation"](spark, sf_small).collect()
    # 5 types → 10 ordered pairs × 4 lags
    assert len(out) == 40
    for r in out:
        assert r["t1"] < r["t2"] and 0 <= r["lag"] <= 3
        if r["pearson_r"] is not None:
            assert -1.0 - 1e-9 <= r["pearson_r"] <= 1.0 + 1e-9
        # lag shrinks the alignable day count
        assert r["n_days"] > 0


def test_trend_ols_slope_is_exact_ratio(spark, sf_small):
    for r in m.queries()["evt_type_trend_ols"](spark, sf_small).collect():
        if r["slope_cents_per_day"] is not None:
            assert r["slope_cents_per_day"] == r["slope_num"] / r["slope_den"]
        if r["r2"] is not None:
            assert 0.0 <= r["r2"] <= 1.0 + 1e-9


def test_trend_ols_recovers_planted_line(spark):
    """y = 7x + 3 exactly → slope_num/slope_den == 7, r2 == 1."""
    daily = spark.createDataFrame(
        [("a", x, 7 * x + 3) for x in range(20)], "t string, x long, y long"
    )
    mom = daily.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    ).first()
    num = mom["n"] * mom["sxy"] - mom["sx"] * mom["sy"]
    den = mom["n"] * mom["sxx"] - mom["sx"] * mom["sx"]
    assert num / den == 7.0


# ---------------------------------------------------------------------------
# second r7 wave: dow seasonality, chi2 independence, centroid cosine, EWMA
# ---------------------------------------------------------------------------


def test_dow_seasonality_consistency(spark, sf_small):
    out = m.queries()["evt_dow_seasonality"](spark, sf_small).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rows in by_type.items():
        assert sum(r["dow_cents"] for r in rows) == rows[0]["total_cents"]
        assert sum(r["n_days_dow"] for r in rows) == rows[0]["n_days_total"]
        # day-weighted mean of the index is exactly 1 by construction
        wmean = sum(r["seasonal_index"] * r["n_days_dow"] for r in rows) / rows[
            0
        ]["n_days_total"]
        assert wmean == pytest.approx(1.0, rel=1e-12)
        assert all(0 <= r["dow"] <= 6 for r in rows)


def test_chi2_zero_filled_universe_and_dof(spark, sf_small):
    out = m.queries()["doc_lang_source_chi2"](spark, sf_small).collect()
    langs = {r["lang"] for r in out}
    sources = {r["source"] for r in out}
    assert len(out) == len(langs) * len(sources)  # zero-filled universe
    assert out[0]["dof"] == (len(langs) - 1) * (len(sources) - 1)
    assert all(r["chi2_term"] >= 0 for r in out)
    assert out[0]["chi2_total"] == pytest.approx(
        sum(r["chi2_term"] for r in out), abs=1e-6
    )


def test_chi2_independent_planted_is_zero(spark):
    """A perfectly independent 2×2 table → every term 0."""
    rows = [("a", "x")] * 4 + [("a", "y")] * 4 + [("b", "x")] * 2 + [("b", "y")] * 2
    df = spark.createDataFrame(rows, "lang string, source string")
    obs = df.groupBy("lang", "source").count()
    rt = df.groupBy("lang").agg(F.count(F.lit(1)).alias("rt"))
    ct = df.groupBy("source").agg(F.count(F.lit(1)).alias("ct"))
    n = df.count()
    cells = obs.join(rt, "lang").join(ct, "source").collect()
    for c in cells:
        exp = c["rt"] * c["ct"] / n
        assert c["count"] == exp


def test_label_centroid_cosine_bounds(spark, sf_small):
    out = m.queries()["label_centroid_cosine"](spark, sf_small).collect()
    assert len(out) >= 2
    for r in out:
        assert -1.0 - 1e-9 <= r["cos_to_global"] <= 1.0 + 1e-9
        assert r["centroid_norm"] > 0


def test_ewma_bounds_and_constant_series(spark, sf_small):
    out = m.queries()["evt_ewma_daily"](spark, sf_small).collect()
    assert all(r["ewma_cents"] > 0 for r in out)
    # constant series → EWMA equals the constant exactly (weights cancel)
    daily = spark.createDataFrame(
        [("a", d, 500) for d in range(30)], "t string, d long, cents long"
    )
    w = F.pow(F.lit(0.9), (F.lit(29) - F.col("d")).cast("double"))
    got = daily.agg(
        (F.sum(F.col("cents") * w) / F.sum(w)).alias("e")
    ).first()["e"]
    assert got == pytest.approx(500.0, rel=1e-12)


# ---------------------------------------------------------------------------
# third r7 wave: HHI concentration, event-type affinity lift
# ---------------------------------------------------------------------------


def test_hhi_bounds_and_uniform_floor(spark, sf_small):
    out = m.queries()["nation_revenue_hhi"](spark, sf_small).collect()
    for r in out:
        # 1/n ≤ HHI ≤ 1, and effective customers ≤ actual customers
        assert 1.0 / r["n_customers"] - 1e-12 <= r["hhi"] <= 1.0 + 1e-12
        assert r["effective_customers"] <= r["n_customers"] + 1e-9
        assert r["effective_customers"] == 1.0 / r["hhi"]


def test_hhi_single_whale_is_one(spark):
    """One customer holding everything → HHI exactly 1."""
    df = spark.createDataFrame([(1, 12345)], "k long, cents long")
    from pyspark.sql import functions as FF

    got = df.agg(
        (
            FF.sum(FF.col("cents").cast("decimal(38,0)") * FF.col("cents")).cast(
                "double"
            )
            / (FF.sum("cents").cast("double") * FF.sum("cents").cast("double"))
        ).alias("hhi")
    ).first()["hhi"]
    assert got == 1.0


def test_affinity_counts_consistent(spark, sf_small):
    out = m.queries()["evt_type_affinity"](spark, sf_small).collect()
    for r in out:
        # co-occurrence can't exceed either marginal or the universe
        assert r["n_both"] <= min(r["n_a"], r["n_b"]) <= r["n_users"]
        assert r["lift"] == r["n_both"] * r["n_users"] / (r["n_a"] * r["n_b"])
        assert r["t1"] < r["t2"]


# ---------------------------------------------------------------------------
# fourth r7 wave: skyline (Pareto front), Kaplan-Meier reorder survival
# ---------------------------------------------------------------------------


def test_skyline_matches_bruteforce(spark, sf_small):
    """The two-phase window skyline must equal the O(n²) dominance
    definition, including tie cells (equal price+size co-survive)."""
    rows = m.queries()["parts_skyline"](spark, sf_small).collect()
    got = {(r["p_partkey"]) for r in rows}
    from vector_search_optimization_spark.sources import load_table

    base = [
        (r["p_partkey"], int(round(r["p_retailprice"] * 100)), r["p_size"])
        for r in load_table(spark, sf_small, "part").collect()
    ]
    want = set()
    for k, p, s in base:
        dominated = any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for _, p2, s2 in base
        )
        if not dominated:
            want.add(k)
    assert got == want and len(got) > 0


def test_skyline_tie_cell_cosurvives(spark):
    """Two identical (price, size) rows both survive; a strictly worse
    row does not."""
    df = spark.createDataFrame(
        [(1, "b", 100.0, 5), (2, "b", 100.0, 5), (3, "b", 101.0, 5), (4, "b", 99.0, 9)],
        "p_partkey long, p_brand string, p_retailprice double, p_size int",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "part.parquet"))
        out = {r["p_partkey"] for r in m.queries()["parts_skyline"](spark, td).collect()}
    # row 4 dominates everything (cheaper AND bigger) → rows 1/2/3 out
    assert out == {4}


def test_km_survival_monotone_and_accounting(spark, sf_small):
    rows = m.queries()["customer_order_survival"](spark, sf_small).collect()
    surv = [r["survival"] for r in rows]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert all(a >= b - 1e-12 for a, b in zip(surv, surv[1:]))  # nonincreasing
    for prev, cur in zip(rows, rows[1:]):
        assert (
            cur["n_at_risk"]
            == prev["n_at_risk"] - prev["d_events"] - prev["c_censored"]
        )
    assert rows[-1]["n_at_risk"] == rows[-1]["d_events"] + rows[-1]["c_censored"]


# ---------------------------------------------------------------------------
# fifth r7 wave: rolling median, sweep-line backlog
# ---------------------------------------------------------------------------


def test_rolling_median_hand_windows(spark, sf_small):
    """Per type, the first row's median is its own value; every window
    median must equal the sorted-middle of the trailing ≤7 cents."""
    rows = m.queries()["evt_rolling_median"](spark, sf_small).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        assert rs[0]["rolling_median"] == float(rs[0]["cents"])
        hist = []
        for r in rs:
            hist.append(r["cents"])
            win = sorted(hist[-7:])
            n = len(win)
            want = (
                float(win[n // 2])
                if n % 2 == 1
                else (win[n // 2 - 1] + win[n // 2]) / 2.0
            )
            assert r["window_n"] == n and r["rolling_median"] == want


def test_backlog_telescopes_and_ends_at_floor(spark, sf_small):
    """Backlog telescopes: open_orders = Σ net_change; the final value
    equals orders that never shipped (opens − closes overall)."""
    rows = m.queries()["orders_backlog_timeline"](spark, sf_small).collect()
    cum = 0
    for r in rows:
        assert r["net_change"] == r["opened"] - r["closed"]
        cum += r["net_change"]
        assert r["open_orders"] == cum
        assert r["open_orders"] >= 0  # can't close before opening
    total_open = sum(r["opened"] for r in rows)
    total_close = sum(r["closed"] for r in rows)
    assert rows[-1]["open_orders"] == total_open - total_close


# ---------------------------------------------------------------------------
# randomized equivalence (one Spark job over all cases, per the
# test_properties.py batching rule — per-example Spark jobs are
# minutes-slow)
# ---------------------------------------------------------------------------


def test_skyline_randomized_equivalence_batched(spark):
    """200 random point sets (ties deliberately frequent via tiny value
    ranges) checked against the O(n²) dominance definition in ONE
    Spark job: skyline_survivors_2d partitioned by case must match the
    per-case brute force exactly."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows, want = [], {}
    for case in range(200):
        n = rng.randint(1, 12)
        pts = [
            (int(rng.randint(0, 6)), int(rng.randint(0, 6)))
            for _ in range(n)
        ]
        for i, (p, s) in enumerate(pts):
            rows.append((case, i, p, s))
        keep = set()
        for i, (p, s) in enumerate(pts):
            dominated = any(
                p2 <= p and s2 >= s and (p2 < p or s2 > s)
                for j, (p2, s2) in enumerate(pts)
                if j != i
            )
            if not dominated:
                keep.add(i)
        want[case] = keep

    df = spark.createDataFrame(
        rows, "case long, i long, price_cents long, size long"
    )
    got = {}
    out = RKS.skyline_survivors_2d(df, part_cols=("case",)).collect()
    for r in out:
        got.setdefault(r["case"], set()).add(r["i"])
    for case in want:
        assert got.get(case, set()) == want[case], case


def test_session_entry_exit_accounting(spark, sf_small):
    """Entry-type session counts must reconcile with evt_sessions'
    per-user totals, bounces imply exit == entry, and the derived
    ratios are the exact single divisions."""
    out = m.queries()["session_entry_exit"](spark, sf_small).collect()
    total_sessions = sum(r["n_sessions"] for r in out)
    per_user = m.queries()["evt_sessions"](spark, sf_small).collect()
    assert total_sessions == sum(r["n_sessions"] for r in per_user)
    for r in out:
        assert r["n_bounces"] <= r["n_exit_same"] <= r["n_sessions"]
        assert r["bounce_rate"] == r["n_bounces"] / r["n_sessions"]
        assert r["avg_session_events"] == r["n_events_total"] / r["n_sessions"]
        assert r["n_events_total"] >= r["n_sessions"]


def test_theil_sen_exact_rational_median(spark, sf_small):
    """The exported (med_num, med_den) must equal a Python replay of
    the exact rational median (Fraction arithmetic) over the same
    daily series, per event type."""
    from fractions import Fraction

    day_rows = {}
    import __spark_entry__ as _m
    from vector_search_optimization_spark.operators import timeseries as TS
    from vector_search_optimization_spark.sources import load_table

    daily = TS.daily_cents(load_table(spark, sf_small, "events")).collect()
    for r in daily:
        day_rows.setdefault(r["event_type"], []).append((r["d"], r["cents"]))

    got = {
        r["event_type"]: r
        for r in m.queries()["evt_theil_sen_slope"](spark, sf_small).collect()
    }
    for t, pts in day_rows.items():
        pts.sort()
        slopes = [
            (y2 - y1, d2 - d1)
            for i, (d1, y1) in enumerate(pts)
            for (d2, y2) in pts[i + 1:]
        ]
        # replay the DOUBLE-keyed order with (num, den) tie-breaks —
        # the cross-engine contract the query documents
        slopes.sort(key=lambda nd: (nd[0] / nd[1], nd[0], nd[1]))
        n = len(slopes)
        lo, hi = slopes[(n + 1) // 2 - 1], slopes[(n + 2) // 2 - 1]
        want = (
            Fraction(lo[0], lo[1])
            if lo == hi
            else (Fraction(lo[0], lo[1]) + Fraction(hi[0], hi[1])) / 2
        )
        r = got[t]
        assert r["n_pairs"] == n
        assert Fraction(r["med_num"], r["med_den"]) == want
        assert r["theil_sen_slope"] == r["med_num"] / r["med_den"]


def test_theil_sen_even_count_averages_rationals(spark):
    """4 points → 6 pair slopes [1, 1, 2, 1, 5/2, 4]; sorted
    [1, 1, 1, 2, 5/2, 4] → median = (1+2)/2 = 3/2 exactly."""
    from fractions import Fraction

    pts = [(0, 0), (1, 1), (2, 2), (3, 6)]
    slopes = sorted(
        Fraction(y2 - y1, d2 - d1)
        for i, (d1, y1) in enumerate(pts)
        for (d2, y2) in pts[i + 1:]
    )
    n = len(slopes)
    med = (slopes[n // 2 - 1] + slopes[n // 2]) / 2
    assert med == Fraction(3, 2)


def test_weighted_median_python_replay(spark, sf_small):
    """The weighted quartiles must equal a pure-Python replay of the
    type-1 weighted quantile (smallest value whose cumulative weight
    reaches ceil(q*W)) per return flag."""
    import math
    from collections import defaultdict

    from vector_search_optimization_spark.sources import load_table
    from pyspark.sql import functions as FF

    li = (
        load_table(spark, sf_small, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    cells = defaultdict(lambda: defaultdict(int))
    for r in li:
        cells[r["l_returnflag"]][int(round(r["l_extendedprice"] * 100))] += int(
            round(r["l_quantity"])
        )

    def wq(flag, num, den):
        total = sum(cells[flag].values())
        need = math.ceil(num * total / den)
        cum = 0
        for c in sorted(cells[flag]):
            cum += cells[flag][c]
            if cum >= need:
                return c

    out = {
        r["l_returnflag"]: r
        for r in m.queries()["lineitem_weighted_median"](spark, sf_small).collect()
    }
    for flag, r in out.items():
        assert r["wq25_cents"] == wq(flag, 1, 4)
        assert r["wmedian_cents"] == wq(flag, 1, 2)
        assert r["wq75_cents"] == wq(flag, 3, 4)
        assert r["wq25_cents"] <= r["wmedian_cents"] <= r["wq75_cents"]
        assert r["total_wt"] == sum(cells[flag].values())


def test_weighted_median_differs_from_row_median_when_skewed(spark):
    """A cheap line with huge quantity must drag the WEIGHTED median
    down while the row median ignores it."""
    rows = [(100, 98), (200, 1), (300, 1)]  # (cents, qty)
    total = sum(q for _, q in rows)
    cum, need = 0, (total + 1) // 2
    wmed = None
    for c, q in sorted(rows):
        cum += q
        if cum >= need and wmed is None:
            wmed = c
    assert wmed == 100  # 98 of 100 units move at 100 cents
    row_median = sorted(c for c, _ in rows)[1]
    assert row_median == 200


def test_proportion_ztest_identities(spark, sf_small):
    """Rates and z must reproduce the pooled-variance formula from the
    exact exported counts; a balanced deterministic split keeps both
    cohorts populated."""
    import math

    r = m.queries()["evt_proportion_ztest"](spark, sf_small).first()
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert r["rate_a"] == r["k_a"] / r["n_a"]
    assert r["rate_b"] == r["k_b"] / r["n_b"]
    pool = (r["k_a"] + r["k_b"]) / (r["n_a"] + r["n_b"])
    se = math.sqrt(pool * (1 - pool) * (1 / r["n_a"] + 1 / r["n_b"]))
    assert r["z_stat"] == pytest.approx(
        (r["rate_a"] - r["rate_b"]) / se, abs=5e-7
    )
