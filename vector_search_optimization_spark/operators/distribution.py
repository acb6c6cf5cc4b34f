"""Distribution-distance combines over (group, cents) count frames.

The 1-D earth mover's distance (Wasserstein-1) between two empirical
distributions is the area between their CDFs: W1 = ∫|F_a(x) − F_b(x)|dx.
On discrete cent-valued support that integral is an EXACT INTEGER once
scaled by n_a·n_b·100: at every support point of the union grid,
|cum_a·n_b − cum_b·n_a| · gap_to_next_point, accumulated in
DECIMAL(38,0) (the squared-cents overflow rule — cum·n reaches ~1e20 at
production row counts), then ONE cast-to-double division by
n_a·n_b·100. Both engines run the identical exact-integer pipeline, so
the export needs no rounding.

The count frame (group, cents, n) of ``cents_counts`` is a pure
ADDITIVE aggregate — the counts of a union are the sums of counts, the
mergeable-sketch property — so the same function run over a stream
(``streaming.grid_monitor.start_grid_rewrite_monitor``) maintains it,
and ``emd_pairs_from_counts`` turns any snapshot into pairwise
distances.

Scale posture: the support grid is DOMAIN-bounded (distinct cent values
of a 2-decimal bounded measure — ≤ ~56k points for the events table),
not corpus-bounded, so the grid window and the |pairs|×|grid| pair join
are constant-size at any row count. The single global lead() window
over the grid is a one-partition sort of a domain-bounded frame by
design.

Reference anchor: extends the drift-audit family (evt_psi_drift,
source_quantile_divergence) with a metric that, unlike PSI/KL, is
finite without smoothing and respects the value metric (reference
analytics notebooks compare score distributions between segments;
analisis-informe.ipynb's segment-drift cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["cents_counts", "emd_pairs_from_counts"]


def cents_counts(df: DataFrame) -> DataFrame:
    """(group, cents, n): rows per group and exact cent value, nulls
    dropped — ONE definition for evt_type_emd and its streaming monitor.

    Over a stream it is a valid incremental state as-is (additive
    counts). Kept in complete mode, the state is DOMAIN-bounded
    (distinct cent values of a 2-decimal bounded measure × |groups| —
    ≤ ~280k rows for the events table at any stream volume); each
    micro-batch shuffles only its map-side-combined partials, and
    computing EMD on demand from a snapshot is the constant-size grid
    pipeline of ``emd_pairs_from_counts``."""
    return (
        df.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def emd_pairs_from_counts(counts: DataFrame) -> DataFrame:
    """Pairwise exact 1-D EMD (in measure units, e.g. dollars) between
    every group pair (a < b) of a (group, cents, n) count frame."""
    g = F.col("event_type")
    grid = (
        counts.select(F.col("cents").alias("_gx"))
        .distinct()
        .withColumn(
            "_gap",
            F.lead("_gx").over(Window.orderBy("_gx")) - F.col("_gx"),
        )
        # the last support point carries no area (both CDFs are 1 there)
        .where(F.col("_gap").isNotNull())
    )
    groups = counts.select(g.alias("_grp")).distinct()
    dense = (
        grid.crossJoin(F.broadcast(groups))
        .join(
            counts.select(
                g.alias("_grp"),
                F.col("cents").alias("_gx"),
                F.col("n").alias("_c"),
            ),
            ["_grp", "_gx"],
            "left",
        )
        .select(
            "_grp",
            "_gx",
            "_gap",
            F.coalesce("_c", F.lit(0)).cast("long").alias("_c"),
        )
    )
    wcum = (
        Window.partitionBy("_grp")
        .orderBy("_gx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.select(
        "_grp", "_gx", "_gap", F.sum("_c").over(wcum).alias("_cum")
    )
    totals = counts.groupBy(g.alias("_grp")).agg(F.sum("n").cast("long").alias("_nt"))
    a = cum.select(
        F.col("_grp").alias("grp_a"),
        "_gx",
        "_gap",
        F.col("_cum").alias("_cum_a"),
    )
    b = cum.select(
        F.col("_grp").alias("grp_b"),
        F.col("_gx").alias("_gxb"),
        F.col("_cum").alias("_cum_b"),
    )
    ta = totals.select(F.col("_grp").alias("grp_a"), F.col("_nt").alias("n_a"))
    tb = totals.select(F.col("_grp").alias("grp_b"), F.col("_nt").alias("n_b"))
    term = (
        F.abs(
            F.col("_cum_a").cast("decimal(38,0)") * F.col("n_b")
            - F.col("_cum_b").cast("decimal(38,0)") * F.col("n_a")
        )
        * F.col("_gap")
    )
    return (
        a.join(b, (F.col("_gx") == F.col("_gxb")) & (F.col("grp_a") < F.col("grp_b")))
        .join(F.broadcast(ta), "grp_a")
        .join(F.broadcast(tb), "grp_b")
        .groupBy("grp_a", "grp_b", "n_a", "n_b")
        .agg(F.sum(term).alias("_s"))
        .select(
            "grp_a",
            "grp_b",
            "n_a",
            "n_b",
            (
                F.col("_s").cast("double")
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                    * F.lit(100.0)
                )
            ).alias("emd"),
        )
    )
