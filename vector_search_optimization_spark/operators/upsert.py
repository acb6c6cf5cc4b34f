"""Keyed upsert (SURVEY §2.1 S11).

Reference: Azure AI Search ``merge_documents`` — partial update of selected
fields by document key (ChunkLabelingProcesor.py:47-50,
update-etiquetas.ipynb:171 c9). Plain parquet has no MERGE INTO, so the
engine implements upsert as a left join + coalesce: rows present in the
updates table get the new field values, everything else passes through.

Scale: the updates side is usually small (per-cluster label writeback →
k rows) → broadcast join, no shuffle of the base table. For fact-sized
updates the same plan degrades gracefully to a shuffled hash join on the
key. On a Delta/Iceberg lakehouse this maps 1:1 to MERGE INTO — swap the
sink, keep the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert_fields(
    base: DataFrame,
    updates: DataFrame,
    key_col: str,
    update_cols: list[str] | None = None,
    broadcast_updates: bool = True,
) -> DataFrame:
    """merge_documents semantics: per-key partial field update.

    ``update_cols`` defaults to every non-key column of ``updates``. A NULL
    in the updates table means "no change" (coalesce keeps the base value),
    matching merge_documents' treatment of absent fields. Keys in
    ``updates`` that don't exist in ``base`` are ignored (merge_documents
    would fail them; the engine's audit queries surface them instead).
    """
    update_cols = update_cols or [c for c in updates.columns if c != key_col]
    missing = set(update_cols) - set(base.columns)
    if missing:
        raise ValueError(f"update columns not in base table: {sorted(missing)}")

    renamed = updates.select(
        key_col, *[F.col(c).alias(f"__new_{c}") for c in update_cols]
    )
    if broadcast_updates:
        renamed = F.broadcast(renamed)
    joined = base.join(renamed, key_col, "left")
    out = [
        F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c)
        if c in update_cols
        else F.col(c)
        for c in base.columns
    ]
    return joined.select(*out)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot-to-snapshot change detection (the CDC half of the keyed
    upsert story: what a nightly ingest must learn before it can MERGE):
    classify every key across two table snapshots as ``added`` (key only
    in ``new``), ``removed`` (only in ``old``), ``changed`` (both, some
    compare column differs) or ``unchanged``.

    Plan: each side is reduced MAP-SIDE to (keys, fingerprint), a
    sha256 row digest over ``compare_cols`` — so the one full-outer
    shuffle join carries a 64-hex digest per row instead of the full
    payload, and both sides
    hash-partition on the same key (co-partitioned exchange, no
    broadcast asymmetry to get wrong). The fingerprint is
    delimiter-ambiguity-proof: each field hashes SEPARATELY first
    (fixed 64-hex tokens, so no concatenation of raw values can
    re-segment — a naive '|' join makes ("a|v|b","c") and ("a","b|v|c")
    collide), NULL fields serialize as a token no hex digest can equal,
    and the row fingerprint hashes the fixed-width token string.

    At 100 TB: this is two scans + one key-partitioned join — the
    minimum for snapshot diffing without a changelog. With bucketed or
    Delta/Iceberg tables the exchange disappears entirely (bucket-join /
    MERGE source pushdown); the operator's contract is unchanged.

    Contract: ``key_cols`` must uniquely identify a row within each
    snapshot (the usual CDC precondition) — duplicate keys would fan
    out through the full-outer join; run a dq_constraints ``unique``
    rule upstream when in doubt.

    Returns (key_cols..., change_type)."""

    def fingerprint(df: DataFrame, out: str) -> DataFrame:
        field_tokens = [
            F.coalesce(
                F.sha2(F.col(c).cast("string"), 256), F.lit("<NULL>")
            )
            for c in compare_cols
        ]
        return df.select(
            *key_cols,
            F.sha2(F.concat_ws("|", *field_tokens), 256).alias(out),
        )

    o = fingerprint(old, "__fp_old")
    n = fingerprint(new, "__fp_new")
    return o.join(n, key_cols, "full_outer").select(
        *key_cols,
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )


def scd2_intervals(
    snapshots: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    latest_version=None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from stacked snapshots —
    the accumulation half of the CDC story (snapshot_diff classifies ONE
    transition; this folds N versioned snapshots into validity
    intervals).

    Input: one frame holding every snapshot, tagged by ``version_col``
    (consecutive integers). Output: one row per (key, attribute-run) with
    ``valid_from`` (first version the attribute tuple held),
    ``valid_to`` (the version it stopped — by change OR delete; NULL
    while still current) and ``is_current``.

    Plan: map-side row fingerprints (the snapshot_diff token scheme —
    per-field sha256 so no delimiter re-segmentation, NULL-safe), then
    ONE hash-partition by key drives both window passes (lag to flag
    run starts — attribute change, first appearance, or a PRESENCE GAP,
    the delete+re-add case the naive lag-only fold merges — and a
    running sum to number runs) and the per-run min/max agg shares the
    same key prefix. No join at all: at 100 TB this is one shuffle of
    (key, version, fp) plus the tiny interval agg.

    ``latest_version`` bounds open intervals; when None it is taken
    from the data (one scalar agg — a bounded driver finish)."""
    if latest_version is None:
        latest_version = snapshots.agg(F.max("version")).first()[0]
    from pyspark.sql import Window

    field_tokens = [
        F.coalesce(F.sha2(F.col(c).cast("string"), 256), F.lit("<NULL>"))
        for c in compare_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy("version")
    flagged = (
        snapshots.select(
            *key_cols,
            F.col("version").alias("__v"),
            *compare_cols,
            F.sha2(F.concat_ws("|", *field_tokens), 256).alias("__fp"),
        )
        .withColumn("__prev_fp", F.lag("__fp").over(
            Window.partitionBy(*key_cols).orderBy("__v")))
        .withColumn("__prev_v", F.lag("__v").over(
            Window.partitionBy(*key_cols).orderBy("__v")))
        .withColumn(
            "__chg",
            F.when(F.col("__prev_fp").isNull(), 1)          # first appearance
            .when(F.col("__prev_fp") != F.col("__fp"), 1)   # attribute change
            .when(F.col("__prev_v") != F.col("__v") - 1, 1)  # presence gap
            .otherwise(0),
        )
        .withColumn(
            "__run",
            F.sum("__chg").over(
                Window.partitionBy(*key_cols)
                .orderBy("__v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    firsts = [F.first(c).alias(c) for c in compare_cols]  # constant per run
    return (
        flagged.groupBy(*key_cols, "__run")
        .agg(
            F.min("__v").alias("valid_from"),
            F.max("__v").alias("__last"),
            *firsts,
        )
        .select(
            *key_cols,
            *compare_cols,
            "valid_from",
            F.when(
                F.col("__last") < F.lit(latest_version),
                F.col("__last") + 1,
            ).alias("valid_to"),
            (F.col("__last") == F.lit(latest_version)).alias("is_current"),
        )
    )
