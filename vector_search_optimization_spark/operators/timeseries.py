"""The daily grid, and the time-series combines that read it, shared by
the batch queries and their streaming monitors (the operators.drift
pattern: ONE definition, two execution paths).

The grid is defined here once, for every time-series query, oracle
twin and monitor:

- ``epoch_day``: the day bucket, days since 1970-01-01 UTC through
  ``unix_timestamp`` (= DuckDB ``floor(epoch(ts))``);
- ``daily_cents``: ``(event_type, d, cents)``, the exact-cents value
  sum per type and day; ``daily_counts``: ``(event_type, d, x)``, the
  event count per type and day;
- ``gap_filled``: a grid densified onto each type's own
  ``[min(d), max(d)]`` span, its value zero-filled as ``x``.

Every grid keys by ``event_type`` and ``d``; a combine reads those
columns and the grid's value column by name, so the grid's shape is
one decision, not a parameter.

A ``*_from_daily`` combine (and ``isotonic_blocks``) runs continuously
by handing it to ``streaming.grid_monitor.start_daily_cents_monitor``:
the stream keeps ``daily_cents`` of the stream and every micro-batch
rewrites the export from the absorbed grid with the combine
(``turning_points_from_daily`` reads the ``daily_counts`` count grid
instead, through ``start_grid_rewrite_monitor``).  Each
docstring says why the grid, not a folded running state, is the only
valid incremental state for that statistic."""

from __future__ import annotations

import pandas as pd  # module level: pandas_udf type-hint resolution

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "daily_cents",
    "daily_counts",
    "drawdown_from_daily",
    "epoch_day",
    "ewma_from_daily",
    "gap_filled",
    "holt_from_daily",
    "isotonic_blocks",
    "runs_test_from_daily",
    "sax_motifs_from_daily",
    "seasonal_from_daily",
    "spc_from_daily",
    "tail_dependence_from_daily",
    "turning_points_from_daily",
]


def epoch_day(col: Column | str) -> Column:
    """Days since 1970-01-01 UTC of a timestamp or date column, as a
    long — the project's one day bucket. ``unix_timestamp`` is the
    cross-engine timestamp identity (DuckDB ``floor(epoch(ts))``);
    never ``cast(ts as long)``, which ANSI mode rejects for NTZ."""
    return F.floor(F.unix_timestamp(col) / F.lit(86400.0)).cast("long")


def daily_cents(events: DataFrame) -> DataFrame:
    """(event_type, d, cents): the exact-cents value sum per event type
    and epoch day, null values dropped — the grid every cents-series
    query reads, and its monitor's state when run over a stream.

    ``round(sum(value) * 100)`` is the aggregate's result expression:
    over a stream it is evaluated on the absorbed sum each time the
    grid is emitted, never on one micro-batch's partial sum, so the
    monitor's grid equals the batch grid over the same rows.
    Calendar-bounded: |types × days| rows, each shuffle carries only
    map-side-combined sum partials."""
    return (
        events.where(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), epoch_day("ts").alias("d"))
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )


def daily_counts(events: DataFrame) -> DataFrame:
    """(event_type, d, x): events per type and epoch day — the COUNT grid
    behind evt_turning_points, and its streaming monitor's state when
    run over a stream (calendar-bounded: |types × days| rows, each
    micro-batch shuffles only its map-side-combined count partials)."""
    return events.groupBy(F.col("event_type"), epoch_day("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )


def gap_filled(daily: DataFrame) -> DataFrame:
    """(event_type, d, x): a daily grid densified onto each type's own
    ``[min(d), max(d)]`` calendar span — the grid's one value column
    (``cents``, the count grid's ``x`` or drawdown's ``dau``) with the
    days no row covers filled with 0, so lags and windows align on
    calendar days rather than on observation indices. The spine is
    |types × days| rows at any fact volume."""
    (value,) = [c for c in daily.columns if c not in ("event_type", "d")]
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("d")
    )
    return spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce(value, F.lit(0)).alias("x")
    )


def sax_motifs_from_daily(daily: DataFrame) -> DataFrame:
    """Top-3 SAX motif words from a ``daily_cents`` grid —
    the SHARED combine behind the evt_sax_motifs batch query and
    its streaming monitor (the seasonal_from_daily
    one-combine-two-paths pattern). Quartile symbols via ntile(4)
    over the per-group (cents, day) total order, 3-day motif words
    via lead windows, top 3 on (count desc, motif asc). Everything is
    exact integers and strings. NOTE for streaming: the state must be
    the DAILY GRID, not the motif counts — late data changes a day's
    cents, which can shift the ntile quartile CUTS and therefore every
    symbol of the group, so motif counts are not an incremental fold.
    The monitor therefore snapshots the grid itself (an identity
    combine) and this function turns any snapshot into the batch
    query's exact top-3 motifs."""
    sym = daily.withColumn(
        "s",
        F.expr(
            "chr(96 + ntile(4) OVER (PARTITION BY event_type "
            "ORDER BY cents, d))"
        ),
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    motifs = (
        sym.select(
            "event_type",
            F.concat(
                F.col("s"), F.lead("s", 1).over(wd), F.lead("s", 2).over(wd)
            ).alias("motif"),
        )
        .where(F.col("motif").isNotNull())
        .groupBy("event_type", "motif")
        .agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n_windows").desc(), F.col("motif").asc()
    )
    return (
        motifs.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 3)
        .select("event_type", "rnk", "motif", "n_windows")
    )


def drawdown_from_daily(daily: DataFrame) -> DataFrame:
    """Peak-decline-recovery (drawdown) analytics from a (event_type, d,
    dau) distinct-user grid — the SHARED combine behind the
    evt_dau_drawdown batch query and streaming/drawdown_maintenance.py
    (the ewma_from_daily one-combine-two-paths pattern).

    Days inside the observed [min, max] span with no rows fill to 0
    (the dense-calendar contract, ``gap_filled``); the
    running-peak window, max depth (exact int), first trough day,
    depth as a fraction of the running peak at the trough (ONE exact-
    integer division, unrounded) and the longest consecutive underwater
    spell (d − row_number islands) all run on the |groups×days| grid —
    fact-size-independent wherever this executes."""
    dense = gap_filled(daily)
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = dense.select(
        "event_type",
        "d",
        "x",
        (F.max("x").over(wrun) - F.col("x")).alias("dd"),
    )
    wrow = Window.partitionBy("event_type").orderBy("d")
    under = dd.where(F.col("dd") > 0).select(
        "event_type",
        (F.col("d") - F.row_number().over(wrow)).alias("grp"),
    )
    spell = (
        under.groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
        .groupBy("event_type")
        .agg(F.max("len").cast("long").alias("longest_underwater_days"))
    )
    agg = dd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("x").cast("long").alias("peak"),
        F.max("dd").cast("long").alias("max_drawdown"),
    )
    troughs = (
        dd.join(
            F.broadcast(agg.select("event_type", "max_drawdown")), "event_type"
        )
        .where(F.col("dd") == F.col("max_drawdown"))
        .groupBy("event_type", "max_drawdown")
        .agg(F.min(F.struct("d", "x")).alias("_td"))
        .select(
            "event_type",
            F.col("_td.d").cast("long").alias("trough_day"),
            (F.col("_td.x") + F.col("max_drawdown"))
            .cast("long")
            .alias("peak_at_trough"),
        )
    )
    return (
        agg.join(troughs, "event_type")
        .join(spell, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "peak",
            "max_drawdown",
            "trough_day",
            F.when(
                F.col("peak_at_trough") > 0,
                F.col("max_drawdown").cast("double")
                / F.col("peak_at_trough").cast("double"),
            ).alias("max_drawdown_pct"),
            F.coalesce(
                "longest_underwater_days", F.lit(0).cast("long")
            ).alias("longest_underwater_days"),
        )
        .orderBy("event_type")
    )


def seasonal_from_daily(daily: DataFrame) -> DataFrame:
    """Additive seasonal decomposition from a ``daily_cents`` grid — the
    SHARED combine behind the evt_seasonal_decompose batch query and its
    streaming monitor (the holt_from_daily one-combine-two-paths
    pattern).

    Densifies onto each group's own daily span (``gap_filled``: missing
    days = 0), takes
    the centered MA-7 trend on full windows only, and exports per
    (group, dow): coverage, the exact detrended-sum numerator
    sp = Σ(7x−T), the seasonal component sp/(7·cnt) and the residual
    sum-of-squares Σ(cnt·p−sp)²/(7·cnt)² — every float is ONE division
    of exact DECIMAL/BIGINT integers (bit-identical across engines;
    see the batch query's docstring for the algebra). |groups|×|days|
    work wherever it runs. NOTE for streaming: the state must be the
    DAILY GRID, not a folded per-dow running state — late data changes a
    day's cents AND its ±3 neighbours' centered-MA-7 trend values."""
    grid = gap_filled(daily)
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    tr = grid.select(
        "event_type",
        "d",
        "x",
        F.sum("x").over(w7).cast("long").alias("tnum"),
        F.count(F.lit(1)).over(w7).alias("wn"),
    ).where(F.col("wn") == 7)
    p = tr.select(
        "event_type",
        (F.col("d") % 7).alias("dow"),
        (7 * F.col("x") - F.col("tnum")).cast("long").alias("p"),
    )
    sg = p.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("p").cast("long").alias("sp"),
    )
    r = (
        p.join(F.broadcast(sg), ["event_type", "dow"])
        .select(
            "event_type",
            "dow",
            (F.col("cnt") * F.col("p") - F.col("sp"))
            .cast("decimal(18,0)")
            .alias("rn"),
        )
        .groupBy("event_type", "dow")
        .agg(F.sum(F.col("rn") * F.col("rn")).alias("rss_num"))
    )
    return (
        sg.join(r, ["event_type", "dow"])
        .select(
            "event_type",
            "dow",
            F.col("cnt").alias("n_days"),
            F.col("sp").alias("detrended_sum_num"),
            (
                F.col("sp").cast("double")
                / (7 * F.col("cnt")).cast("double")
            ).alias("seasonal_cents"),
            (
                F.col("rss_num").cast("double")
                / (
                    (7 * F.col("cnt")).cast("decimal(38,0)")
                    * (7 * F.col("cnt"))
                ).cast("double")
            ).alias("resid_ss"),
        )
        .orderBy("event_type", "dow")
    )


def holt_from_daily(daily: DataFrame) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing at the series
    end from a ``daily_cents`` grid — the SHARED
    combine behind the evt_holt_linear batch query and
    its streaming monitor (the ewma_from_daily one-combine-two-paths
    pattern). NOTE for streaming: the state must be the DAILY GRID —
    folding the (level, trend) pair forward would be wrong twice over: a
    day's cents are not final until read time, and the recursion consumes
    days in order while late data can append to PAST days. Unlike the
    EWMA there is no decay horizon to age out against, so unbounded
    retention keeps the full (dimension-table-sized) grid.

    The grid is densified onto each group's own daily span
    (``gap_filled``: missing days = 0 cents) and the level/trend recursion
    l_t = 0.5*x_t + 0.5*(l+b), b_t = 0.25*(l_t-l) + 0.75*b (repr-exact
    dyadic constants) folds SEQUENTIALLY over the sorted series with
    F.aggregate — a fixed op order, so results are bit-identical to
    any engine running the same recursion (the evt_holt_linear oracle
    is a DuckDB recursive CTE over the identical expression trees).
    Exports 6dp level/trend/7-day-forecast/one-step-RMSE plus the
    exact n_days anchor; groups with fewer than 2 grid days drop.

    Input is already the calendar-bounded daily grid, so this is
    |groups| x |days| work wherever it runs."""
    grid = gap_filled(daily).withColumn("x", F.col("x").cast("double"))
    ser = grid.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))),
            lambda s: s.x,
        ).alias("xs")
    )
    xs = F.col("xs")
    acc = F.aggregate(
        F.slice(xs, F.lit(2), F.size(xs) - 1),
        F.struct(
            xs[0].alias("l"),
            (xs[1] - xs[0]).alias("b"),
            F.lit(0.0).alias("sse"),
        ),
        lambda acc, x: F.struct(
            (F.lit(0.5) * x + F.lit(0.5) * (acc.l + acc.b)).alias("l"),
            (
                F.lit(0.25)
                * ((F.lit(0.5) * x + F.lit(0.5) * (acc.l + acc.b)) - acc.l)
                + F.lit(0.75) * acc.b
            ).alias("b"),
            (acc.sse + (x - (acc.l + acc.b)) * (x - (acc.l + acc.b))).alias(
                "sse"
            ),
        ),
    )
    return (
        ser.where(F.size(xs) >= 2)
        .select(
            "event_type",
            F.size(xs).cast("long").alias("n_days"),
            acc.alias("acc"),
        )
        .select(
            "event_type",
            "n_days",
            F.round(F.col("acc.l"), 6).alias("level_cents"),
            F.round(F.col("acc.b"), 6).alias("trend_cents"),
            F.round(F.col("acc.l") + F.lit(7.0) * F.col("acc.b"), 6).alias(
                "forecast_7d_cents"
            ),
            F.round(
                F.sqrt(
                    F.col("acc.sse") / (F.col("n_days") - 1).cast("double")
                ),
                6,
            ).alias("rmse_cents"),
        )
        .orderBy("event_type")
    )


def ewma_from_daily(daily: DataFrame) -> DataFrame:
    """Normalized exponentially-weighted moving average at the series
    end from a ``daily_cents`` grid, α = 0.9:

        EWMA = Σ xᵢ·α^(d_last−dᵢ) / Σ α^(d_last−dᵢ)

    The input is already the calendar-bounded daily grid, so this is
    |groups×days|-scale math wherever it runs — a batch query over the
    fact table's daily aggregate, or a per-micro-batch rewrite over a
    streaming-maintained grid. pow() is not correctly-rounded IEEE and
    the weighted sums are order-dependent, so ewma_cents rounds at 6dp
    (irrational — tie-free); n_days and the last day's cents are exact
    integer anchors. NOTE for streaming: the state must be the DAILY
    GRID, not the decayed numerator folded forward — a day's cents are
    not final until read time. For unbounded retention, age out days
    older than the decay horizon (α^d < ulp ⇒ d ≳ 330 at α=0.9):
    dropping them changes nothing representable in the result."""
    last = daily.groupBy("event_type").agg(F.max("d").alias("d_last"))
    wgt = daily.join(F.broadcast(last), "event_type").select(
        "event_type",
        "cents",
        "d",
        "d_last",
        F.pow(
            F.lit(0.9), (F.col("d_last") - F.col("d")).cast("double")
        ).alias("w"),
    )
    return (
        wgt.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max(
                F.when(F.col("d") == F.col("d_last"), F.col("cents"))
            )
            .cast("long")
            .alias("last_day_cents"),
            F.round(
                F.sum(F.col("cents") * F.col("w")) / F.sum("w"), 6
            ).alias("ewma_cents"),
        )
        .orderBy("event_type")
    )


def runs_test_from_daily(daily: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test from a ``daily_cents`` grid — the SHARED
    combine behind the evt_runs_test batch query and its streaming
    monitor (the ewma_from_daily one-combine-two-paths pattern). Days
    equal to the per-group median
    (F.percentile, cross-engine-stable interpolation) are excluded;
    E[R] and Var[R] are single IEEE divisions of exact integers and
    z = (R − E)/sqrt(V) chains only correctly-rounded ops, so every
    float is bit-identical cross-engine and exports UNROUNDED. Input is
    the calendar-bounded grid, so this is |groups × days| work wherever
    it runs. NOTE for streaming: the state must be the DAILY GRID, not a
    folded (last_sign, counters) state — late data flips a past day's
    sign, and the median the signs compare against moves with every new
    day."""
    med = daily.groupBy("event_type").agg(
        F.percentile(F.col("cents"), F.lit(0.5)).alias("med")
    )
    sgn = (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("cents").cast("double") != F.col("med"))
        .select(
            "event_type",
            "d",
            (F.col("cents").cast("double") > F.col("med"))
            .cast("int")
            .alias("sign"),
        )
    )
    wlag = Window.partitionBy("event_type").orderBy("d")
    runs = (
        sgn.withColumn("prev", F.lag("sign").over(wlag))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("sign") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_runs"),
            F.sum("sign").cast("long").alias("n_above"),
            F.sum(F.lit(1) - F.col("sign")).cast("long").alias("n_below"),
        )
    )
    n1, n2 = F.col("n_above"), F.col("n_below")
    n = n1 + n2
    e_runs = F.lit(1.0) + (F.lit(2) * n1 * n2).cast("double") / n.cast(
        "double"
    )
    v_runs = (F.lit(2) * n1 * n2 * (F.lit(2) * n1 * n2 - n)).cast(
        "double"
    ) / (n * n * (n - F.lit(1))).cast("double")
    return runs.select(
        "event_type",
        "n_runs",
        "n_above",
        "n_below",
        e_runs.alias("expected_runs"),
        F.when(
            v_runs > 0,
            (F.col("n_runs").cast("double") - e_runs) / F.sqrt(v_runs),
        ).alias("z_stat"),
    ).orderBy("event_type")


def tail_dependence_from_daily(daily: DataFrame) -> DataFrame:
    """Empirical upper-tail dependence λ_U for every group pair from a
    ``daily_cents`` grid — the SHARED combine behind the
    evt_tail_dependence batch query and its streaming monitor (the
    one-combine-two-paths pattern).  Each side's 0.8 threshold is the exact
    type-1 order statistic over the SHARED days (rank ceil(0.8n) = (8n+9)
    div 10, (cents, day) tie-break), exceedance a strict integer compare,
    λ̂_U = 2·n_joint/(n_exc1+n_exc2) ONE exact-int division UNROUNDED,
    when()-gated.  NOTE for streaming: the state must be the DAILY GRID, not
    folded exceedance counts — late data changes a day's cents, which moves
    BOTH thresholds and can re-classify every other day's exceedance flags.
    Pair frame |groups|²/2 × days — calendar²-bounded."""
    a = daily.select(
        F.col("event_type").alias("t1"),
        F.col("d").alias("d"),
        F.col("cents").alias("c1"),
    )
    b = daily.select(
        F.col("event_type").alias("t2"),
        F.col("d").alias("d"),
        F.col("cents").alias("c2"),
    )
    pr = a.join(b, "d").where(F.col("t1") < F.col("t2"))
    w1 = Window.partitionBy("t1", "t2").orderBy("c1", "d")
    w2 = Window.partitionBy("t1", "t2").orderBy("c2", "d")
    ranked = pr.withColumn("r1", F.row_number().over(w1)).withColumn(
        "r2", F.row_number().over(w2)
    )
    nn = pr.groupBy("t1", "t2").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pos = F.expr("(8 * n + 9) div 10")
    thr = (
        ranked.join(F.broadcast(nn), ["t1", "t2"])
        .groupBy("t1", "t2", "n")
        .agg(
            F.max(F.when(F.col("r1") == pos, F.col("c1"))).alias("thr1"),
            F.max(F.when(F.col("r2") == pos, F.col("c2"))).alias("thr2"),
        )
    )
    exc1 = (F.col("c1") > F.col("thr1")).cast("long")
    exc2 = (F.col("c2") > F.col("thr2")).cast("long")
    agg = (
        pr.join(F.broadcast(thr), ["t1", "t2"])
        .groupBy("t1", "t2", "n", "thr1", "thr2")
        .agg(
            F.sum(exc1).cast("long").alias("n_exc1"),
            F.sum(exc2).cast("long").alias("n_exc2"),
            F.sum(exc1 * exc2).cast("long").alias("n_joint"),
        )
    )
    return agg.select(
        "t1",
        "t2",
        F.col("n").alias("n_days"),
        F.col("thr1").alias("thr1_cents"),
        F.col("thr2").alias("thr2_cents"),
        "n_exc1",
        "n_exc2",
        "n_joint",
        F.when(
            (F.col("n_exc1") + F.col("n_exc2")) > 0,
            2.0
            * F.col("n_joint").cast("double")
            / (F.col("n_exc1") + F.col("n_exc2")).cast("double"),
        ).alias("lambda_u"),
    ).orderBy("t1", "t2")


def spc_from_daily(daily: DataFrame) -> DataFrame:
    """Shewhart individuals/moving-range control chart from a
    ``daily_cents`` grid — the SHARED combine behind the
    evt_spc_individuals batch query and its streaming monitor (the
    one-combine-two-paths pattern; extracted as pure code motion,
    plan-identity verified).  Center = S/n and MR̄ = ΣMR/(n−1) are single
    exact-integer divisions over the zero-densified calendar spine, the
    ±2.66·MR̄ limits chain bit-identical doubles, violations are exact
    counts.  NOTE for streaming: the state must be the DAILY GRID, not
    folded (center, MR̄, violation) stats — late data on ONE old day changes
    its two adjacent moving ranges AND the center, which re-flags every day
    of the group."""
    grid = gap_filled(daily)
    wo = Window.partitionBy("event_type").orderBy("d")
    mr = grid.select(
        "event_type",
        "x",
        F.abs(F.col("x") - F.lag("x").over(wo)).cast("long").alias("mr"),
    )
    agg = mr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum("mr").cast("long").alias("smr"),
    )
    center = F.col("s").cast("double") / F.col("n").cast("double")
    mrbar = F.col("smr").cast("double") / (F.col("n") - 1).cast("double")
    ucl = center + F.lit(2.66) * mrbar
    lcl = center - F.lit(2.66) * mrbar
    lim = agg.where(F.col("n") > 1).select(
        "event_type", "n", "s", "smr",
        center.alias("center_cents"),
        mrbar.alias("mrbar_cents"),
        ucl.alias("ucl_cents"),
        lcl.alias("lcl_cents"),
    )
    viol = (
        grid.join(F.broadcast(lim), "event_type")
        .select(
            "event_type",
            F.when(
                (F.col("x").cast("double") > F.col("ucl_cents"))
                | (F.col("x").cast("double") < F.col("lcl_cents")),
                1,
            )
            .otherwise(0)
            .alias("v"),
        )
        .groupBy("event_type")
        .agg(F.sum("v").cast("long").alias("n_violations"))
    )
    return (
        lim.join(viol, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "center_cents",
            "mrbar_cents",
            "ucl_cents",
            "lcl_cents",
            "n_violations",
        )
        .orderBy("event_type")
    )


def turning_points_from_daily(daily: DataFrame) -> DataFrame:
    """Kendall-Stuart turning-point randomness test from a
    ``daily_counts`` grid — the SHARED combine behind the
    evt_turning_points batch query and its streaming monitor
    (``daily_counts`` over the stream, this combine as the snapshot of
    ``streaming.grid_monitor.start_grid_rewrite_monitor``; extracted as
    pure code motion, plan-identity verified).  Note the grid is a
    COUNT grid, not cents.  Strict local peaks/troughs on the
    zero-densified calendar spine vs E = 2(n−2)/3, V = (16n−29)/90;
    tallies exact ints, expected ONE exact-int division UNROUNDED,
    z 6dp.  NOTE for streaming: the state must be the DAILY GRID, not
    a folded tally — late data changing ONE day's count can flip the
    local-extremum status of BOTH its neighbors."""
    dense = gap_filled(daily)
    w = Window.partitionBy("event_type").orderBy("d")
    tp = dense.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("p"),
        F.lead("x").over(w).alias("q"),
    ).select(
        "event_type",
        F.when(
            ((F.col("p") < F.col("x")) & (F.col("x") > F.col("q")))
            | ((F.col("p") > F.col("x")) & (F.col("x") < F.col("q"))),
            1,
        )
        .otherwise(0)
        .alias("is_tp"),
    )
    s = tp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("is_tp").cast("long").alias("n_turning"),
    )
    n = F.col("n_days").cast("double")
    expected = F.lit(2.0) * (n - F.lit(2.0)) / F.lit(3.0)
    variance = (F.lit(16.0) * n - F.lit(29.0)) / F.lit(90.0)
    ok = F.col("n_days") >= 3
    return s.select(
        "event_type",
        "n_days",
        "n_turning",
        F.when(ok, expected).alias("expected_turning"),
        F.when(
            ok & (variance > 0),
            F.round(
                (F.col("n_turning").cast("double") - expected)
                / F.sqrt(variance),
                6,
            ),
        ).alias("z_score"),
    ).orderBy("event_type")


def isotonic_blocks(daily: DataFrame) -> DataFrame:
    """Isotonic (non-decreasing least-squares) regression of a daily
    exact-integer series per group — pool-adjacent-violators (PAVA),
    the monotone-trend / calibration primitive (MLlib ships the same
    algorithm as ``pyspark.ml.regression.IsotonicRegression``; this
    implementation keeps the arithmetic in EXACT PYTHON INTEGERS so the
    block decomposition is bit-deterministic and oracle-comparable).

    Output is one row per fitted BLOCK (maximal run of constant fit):
    ``(event_type, block_start_day, block_end_day, block_days, block_cents,
    iso_fit_cents)`` — the first five are exact integers (tie-free for
    the oracle hash); ``iso_fit_cents = block_cents / block_days``
    derives UNROUNDED from the two exact integers (identical single
    IEEE division in any engine — the derived-ratio pattern). Blocks
    carry strictly increasing means by construction: the PAVA merge
    uses >= (cross-multiplied integer compare, no floats), pooling
    equal-mean neighbours, which makes "block" = "maximal equal-fit
    run" — the same decomposition an oracle recovers by grouping equal
    fit values from the minimax characterization
    fit_i = max_{j<=i} min_{k>=i} mean(y_j..y_k).

    Scale: the input is already the calendar-bounded daily grid, so
    each group holds at most a few thousand rows regardless of fact
    volume; applyInPandas shuffles once on the group key and the O(n)
    sequential sweep runs per group. Groups are event-type-scale (small
    cardinality).

    NOTE for streaming: the state must be the DAILY GRID, not folded
    blocks — PAVA blocks are the least incrementally maintainable state
    of the grid family: a late row raising ONE old day's cents can
    violate monotonicity against its successor and trigger a merge
    cascade that rewrites every downstream block, and a raise can also
    split a previously pooled run by lifting its left edge."""
    import numpy as np

    schema = (
        "event_type string, block_start_day long, block_end_day long, "
        "block_days long, block_cents long, iso_fit_cents double"
    )

    def _pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        days = pdf["d"].to_numpy(dtype=np.int64)
        ys = pdf["cents"].to_numpy(dtype=np.int64)
        key = pdf["event_type"].iloc[0]
        # stack of (start_index, n_days, cents_sum) in exact Python ints;
        # merge while the previous block mean >= the incoming mean
        # (s_prev/n_prev >= s/n  <=>  s_prev*n >= s*n_prev, dens > 0)
        stack: list[tuple[int, int, int]] = []
        for i in range(len(ys)):
            start, n, s = i, 1, int(ys[i])
            while stack and stack[-1][2] * n >= s * stack[-1][1]:
                p_start, p_n, p_s = stack.pop()
                start, n, s = p_start, n + p_n, s + p_s
            stack.append((start, n, s))
        return pd.DataFrame(
            {
                "event_type": [key] * len(stack),
                "block_start_day": [int(days[st]) for st, n, _ in stack],
                "block_end_day": [int(days[st + n - 1]) for st, n, _ in stack],
                "block_days": [n for _, n, _ in stack],
                "block_cents": [s for _, _, s in stack],
                "iso_fit_cents": [s / n for _, n, s in stack],
            }
        )

    return daily.groupBy("event_type").applyInPandas(_pava, schema=schema)
