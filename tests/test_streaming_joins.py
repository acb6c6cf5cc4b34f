"""Watermarked stream-stream interval join must equal its batch twin
once both streams drain (same projection + condition, state-bounded)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming import joins as SJ


def test_stream_stream_interval_join_equals_batch(spark, sf_small, tmp_path):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    views = events.where(F.col("event_type") == "view")
    purchases = events.where(F.col("event_type") == "purchase")

    expected = sorted(
        (r.user_id, r.purchase_id, r.view_id)
        for r in SJ.interval_join_batch(views, purchases).collect()
    )
    assert expected, "fixture should produce at least one attribution pair"

    # each side lands as TWO files so the join sees interleaved batches
    vdir, pdir = f"{tmp_path}/views", f"{tmp_path}/purchases"
    views.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(vdir)
    views.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(vdir)
    purchases.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(pdir)
    purchases.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(pdir)

    # watermarks need TIMESTAMP (LTZ): read the NTZ parquet through an
    # explicit LTZ schema under the UTC session, the same trick
    # streaming.windows.read_events_stream uses
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = (
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double"
    )
    vs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vdir)
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
    )
    out = SJ.interval_join_stream(vs, ps, watermark_delay="10 years")
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.user_id, r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_join_out").collect()
    )
    # the huge watermark delay means nothing is dropped as late on the
    # bounded backlog: stream == batch exactly
    assert got == expected


def test_interval_join_watermark_advances_and_same_batch_pairs_join(spark, tmp_path):
    """Watermark semantics pin: the join's event-time watermark ADVANCES
    past old data (the state-cleanup bound production joins rely on),
    while a late pair arriving TOGETHER in one micro-batch still joins —
    inner-join lateness dropping is best-effort on state, not a
    guarantee about same-batch matches (Spark's documented semantics;
    r4 verified this empirically — do not assert late-pair drops)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = (
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double"
    )
    vdir, pdir = f"{tmp_path}/v2", f"{tmp_path}/p2"

    from datetime import datetime

    def write(dir_, mode, rows):
        rows = [
            (a, b, c, datetime.fromisoformat(ts), v) for a, b, c, ts, v in rows
        ]
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(dir_)

    # batch 1: an on-time pair at noon
    write(vdir, "overwrite", [(1, 1, "view", "2025-01-01 12:00:00", 1.0)])
    write(pdir, "overwrite", [(2, 1, "purchase", "2025-01-01 12:10:00", 9.0)])
    # batch 2 (later files): a pair 12 hours BEHIND the watermark
    write(vdir, "append", [(3, 2, "view", "2025-01-01 00:00:00", 1.0)])
    write(pdir, "append", [(4, 2, "purchase", "2025-01-01 00:10:00", 9.0)])

    vs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vdir)
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
    )
    out = SJ.interval_join_stream(vs, ps, watermark_delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join_late")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt2")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    got = sorted(
        (r.user_id, r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_join_late").collect()
    )
    # the on-time pair always joins; the midnight pair is BEST-EFFORT —
    # dropped when the watermark filter catches it entering a later
    # micro-batch, joined when both rows land in one batch (r4 observed
    # BOTH outcomes across runs, which is precisely Spark's documented
    # inner-join lateness semantics — assert accordingly)
    assert got in ([(1, 2, 1)], [(1, 2, 1), (2, 4, 3)])
    # the watermark advanced to noon - 10 min, far past the midnight rows
    assert progress["eventTime"]["watermark"] >= "2025-01-01T11:50:00"
    state = progress["stateOperators"][0]
    assert state["numRowsTotal"] <= 4  # state bounded by the buffered rows
