"""Grid-based exact ranking statistics: ROC-AUC and Lorenz/Pareto
concentration, both computed on a VALUE-GRID aggregate rather than a
row-level sort.

The shared scale idea: a global rank/cumulative pass over raw rows needs
a total order (single-partition window or a range-partitioned sort) that
grows with the FACT table. But when the metric is piecewise-constant in
the score value — AUC and Lorenz points both are — the statistic is a
function of the (value → class counts) histogram only.  Both operators
therefore run ONE combinable groupBy over the facts to build the grid
(distinct score values; bounded by the price/score lattice, e.g. a
2-decimal money column has ≤ ~10^4-10^6 cells regardless of row count)
and run the ordered cumulative pass over grid CELLS.  Ties are exact by
construction: tied rows share a cell, so there is no engine-dependent
tie-break anywhere.

All grid keys and accumulators are exact integers (cents / counts) under
ANSI arithmetic, so overflow fails loudly; the final ratios are derived
UNROUNDED from the exact integers (identical inputs → bit-identical IEEE
division on any engine — the repo's derived-ratio export rule).

At extreme scale the knobs are: (a) counts beyond ~9.2e18 pair-products
need the AUC numerator widened to DECIMAL(38,0) (the formula is
unchanged); (b) a pathological unbounded grid (true-real scores) is
coarsened by quantizing the score — which changes the statistic only at
the quantization resolution, and keeps the tie-exactness property.

No counterpart exists in the reference (pandas notebooks sort in
memory); cited for provenance only: nuevo-kmeans-pre.ipynb's sorted
score inspections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "exact_auc_by_grid",
    "lorenz_points_by_grid",
    "skyline_survivors_2d",
    "two_phase_skyline",
]


def skyline_survivors_2d(d: DataFrame, part_cols: tuple = ()) -> DataFrame:
    """Rows not dominated within their partition under (minimize
    `price_col`, maximize `size_col`): dominated iff a STRICTLY cheaper
    row has size ≥ mine (RANGE-frame max over the exact integer price)
    or a same-price row has size > mine; equal (price, size) pairs
    co-survive. All other columns pass through untouched."""
    w_cheaper = (
        Window.partitionBy(*part_cols)
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy(*part_cols, "price_cents")
    return (
        d.withColumn("_mxc", F.max("size").over(w_cheaper))
        .withColumn("_mxs", F.max("size").over(w_same))
        .where(
            (F.col("_mxc").isNull() | (F.col("_mxc") < F.col("size")))
            & (F.col("_mxs") <= F.col("size"))
        )
        .drop("_mxc", "_mxs")
    )


def two_phase_skyline(d: DataFrame) -> DataFrame:
    """Distributable skyline: per-price-band local fronts prune in
    parallel (union of local skylines provably contains the global
    front — a dominator in the SAME band eliminates locally), then the
    full dominance windows run over the pruned union only. The skyline
    MERGE property skyline(A ∪ B) = skyline(skyline(A) ∪ B) is what
    makes both this pruning and the streaming fold
    (streaming/skyline_maintenance.py) correct."""
    band = (F.col("price_cents") / F.lit(int(1000))).cast("long")
    local = skyline_survivors_2d(d.withColumn("_band", band), ("_band",)).drop("_band")
    return skyline_survivors_2d(local)


def exact_auc_by_grid(
    scored: DataFrame,
    score_cents: Column,
    is_pos: Column,
) -> DataFrame:
    """Exact ROC-AUC (= the Mann-Whitney U statistic with the standard
    half-credit tie correction) of an integer-grid score against a
    boolean label, without sorting rows.

    AUC = P(score_pos > score_neg) + 0.5 * P(score_pos = score_neg)
        = Σ_v n_pos(v) * (N_neg(<v) + n_neg(v)/2) / (N_pos * N_neg)

    computed over the score grid.  To stay in exact integers the
    numerator is DOUBLED: auc_num2 = Σ n_pos(v)*(2*N_neg(<v) + n_neg(v)),
    and AUC = auc_num2 / (2*N_pos*N_neg) derives unrounded.

    One combinable groupBy over the facts; the cumulative window runs
    over GRID cells only (single-partition by design — the grid is
    lattice-bounded, not row-bounded; see the module docstring).
    Returns one row: (n_pos, n_neg, n_grid, auc_num2, auc).
    """
    grid = scored.groupBy(score_cents.alias("cents")).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(is_pos, 0).otherwise(1)).cast("long").alias("n_neg"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    contrib = grid.select(
        "n_pos",
        "n_neg",
        (
            F.col("n_pos")
            * (
                F.lit(2)
                * F.coalesce(F.sum("n_neg").over(w), F.lit(0).cast("long"))
                + F.col("n_neg")
            )
        ).alias("num2"),
    )
    return contrib.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_grid"),
        F.sum("num2").cast("long").alias("auc_num2"),
    ).select(
        "n_pos",
        "n_neg",
        "n_grid",
        "auc_num2",
        (
            F.col("auc_num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


def lorenz_points_by_grid(
    per_entity_cents: DataFrame,
    cents_col: str,
    top_pcts: list[int],
) -> DataFrame:
    """Lorenz / Pareto concentration: for each integer percent q in
    `top_pcts`, the exact share of the total held by the top
    ceil(q% * n) entities, from a (entity → integer cents) frame.

    Grid trick as above, ordered DESC: ties share a cell, and a
    quantile cutoff landing inside a cell takes (k - cum_count_above)
    members at that cell's exact value — exact because cell members are
    identical-valued, so ANY k-subset has the same total.  No
    entity-level sort, no tie-break, no rank window over entities.

    Returns one row per q: (top_pct, k_entities, top_cents, n_entities,
    total_cents, share) with share derived unrounded.
    """
    grid = per_entity_cents.groupBy(F.col(cents_col).alias("cents")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ent")
    )
    w = Window.orderBy(F.col("cents").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "cents",
        "n_ent",
        F.coalesce(F.sum("n_ent").over(w), F.lit(0).cast("long")).alias(
            "cnt_above"
        ),
        F.coalesce(
            F.sum(F.col("n_ent") * F.col("cents")).over(w),
            F.lit(0).cast("long"),
        ).alias("cents_above"),
    )
    tot = per_entity_cents.agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum(cents_col).cast("long").alias("total_cents"),
    )
    qs = ", ".join(f"({int(q)})" for q in top_pcts)
    spark = per_entity_cents.sparkSession
    quant = spark.sql(
        f"SELECT top_pct FROM (VALUES {qs}) AS t(top_pct)"
    ).select(F.col("top_pct").cast("int").alias("top_pct"))
    # k = ceil(q*n/100) in pure integer math: (q*n + 99) div 100
    k = ((F.col("top_pct") * F.col("n_entities") + F.lit(99)) / F.lit(100)).cast(
        "long"
    )
    joined = quant.join(F.broadcast(tot)).select(
        "top_pct", "n_entities", "total_cents", k.alias("k_entities")
    )
    hit = F.broadcast(joined).join(
        cum,
        (F.col("cnt_above") < F.col("k_entities"))
        & (F.col("cnt_above") + F.col("n_ent") >= F.col("k_entities")),
    )
    top_cents = F.col("cents_above") + (
        F.col("k_entities") - F.col("cnt_above")
    ) * F.col("cents")
    return (
        hit.select(
            "top_pct",
            "k_entities",
            top_cents.alias("top_cents"),
            "n_entities",
            "total_cents",
        )
        .withColumn(
            "share",
            F.col("top_cents").cast("double") / F.col("total_cents"),
        )
        .orderBy("top_pct")
    )
