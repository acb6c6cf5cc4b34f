"""Streaming CMS maintenance must equal the batch sketch once the
stream has absorbed the same rows — cells are additive counters, so the
complete-mode aggregate is the exact batch sketch at every epoch (the
mergeable-sketch property), including when a user's rows straddle
micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import sketches as SK
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.grid_monitor import (
    start_grid_rewrite_monitor,
)


def test_stream_cms_equals_batch_with_split_users(spark, sf_small, tmpdirs):
    """Two drop-zone files split by event_id parity — every user's rows
    straddle BOTH micro-batches. After full absorption the maintained
    cells must equal sketches.cms_cells over the same rows exactly, and
    point estimates from the maintained sketch must dominate the exact
    counts (the one-sided CMS guarantee)."""
    events = load_table(spark, sf_small, "events").select(
        "event_id", "user_id"
    )
    want = {
        (r.i, r.bucket): r.cell
        for r in SK.cms_cells(events, "user_id").collect()
    }

    drop = f"{tmpdirs}/drop"
    events.where(F.col("event_id") % 2 == 0).select("user_id").write.mode(
        "overwrite"
    ).parquet(drop)
    events.where(F.col("event_id") % 2 == 1).select("user_id").write.mode(
        "append"
    ).parquet(drop)

    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = start_grid_rewrite_monitor(
        SK.cms_cells(stream, "user_id"),
        out_path=f"{tmpdirs}/cells",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        snapshot=lambda cells: cells,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cells = spark.read.parquet(f"{tmpdirs}/cells")
    got = {(r.i, r.bucket): r.cell for r in cells.collect()}
    assert got == want

    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    est = SK.cms_point_estimates(cells, exact, "user_id")
    bad = est.where(F.col("cms_estimate") < F.col("exact_count")).count()
    assert bad == 0
