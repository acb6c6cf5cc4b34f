"""Streaming EMD maintenance must equal the batch distribution once the
stream has absorbed the same rows — (type, cents) counts are additive,
so the complete-mode aggregate is the exact batch count frame at every
epoch, and the shared combine turns both into identical pairwise EMDs."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators.distribution import (
    cents_counts,
    emd_pairs_from_counts,
)
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_grid_rewrite_monitor,
)


def test_stream_emd_counts_equal_batch_with_split_types(
    spark, sf_small, tmpdirs
):
    """Two drop-zone files split by event_id parity — every event type's
    rows straddle BOTH micro-batches. After full absorption the
    maintained counts must equal the batch aggregate exactly, and the
    shared combine must therefore produce identical pairwise EMDs."""
    events = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    batch_counts = (
        events.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    want_counts = {
        (r.event_type, r.cents): r.n for r in batch_counts.collect()
    }
    want_emd = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.emd)
        for r in emd_pairs_from_counts(batch_counts).collect()
    }

    drop = f"{tmpdirs}/drop"
    cols = ["event_type", "value"]
    events.where(F.col("event_id") % 2 == 0).select(*cols).write.mode(
        "overwrite"
    ).parquet(drop)
    events.where(F.col("event_id") % 2 == 1).select(*cols).write.mode(
        "append"
    ).parquet(drop)

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_grid_rewrite_monitor(
        cents_counts(stream),
        out_path=f"{tmpdirs}/counts",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        snapshot=lambda counts: counts,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    maintained = spark.read.parquet(f"{tmpdirs}/counts")
    got_counts = {
        (r.event_type, r.cents): r.n for r in maintained.collect()
    }
    assert got_counts == want_counts

    got_emd = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.emd)
        for r in emd_pairs_from_counts(maintained).collect()
    }
    assert got_emd == want_emd
    # metric sanity on the real data: symmetric-pair coverage, positivity
    assert len(got_emd) == 10  # C(5,2) type pairs
    for (a, b), (na, nb, emd) in got_emd.items():
        assert a < b and na > 0 and nb > 0 and emd >= 0.0
