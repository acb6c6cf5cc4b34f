"""Streaming PSI monitor must equal the batch PSI computation once the
stream has absorbed the same current-cohort rows (one shared
bucketize/psi_from_counts definition for both paths)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import drift as DR
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.drift import stream_psi_monitor


def reference_profile(df):
    """(range, bucket_counts) of a reference cohort: the one-row
    [lo, hi] frame and the (group, bucket, n_ref) counts the PSI monitor
    compares its stream against."""
    rng = df.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    counts = (
        df.join(F.broadcast(rng))
        .select(
            "event_type",
            DR.bucketize("value", F.col("lo"), F.col("hi")).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    return rng, counts


def test_stream_psi_equals_batch(spark, sf_small, tmpdirs):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    is_ref = F.col("event_id") % 2 == 0

    batch = {
        r.event_type: (r.psi, r.drifted)
        for r in DR.psi_drift(events, is_ref).collect()
    }

    ref = events.where(is_ref)
    rng, ref_counts = reference_profile(ref)
    lo, hi = rng.first()

    # current cohort arrives as TWO drop-zone files (late second batch)
    cur = events.where(~is_ref).select("event_type", "value")
    drop = f"{tmpdirs}/drop"
    cur.where(F.col("value") < 30).write.mode("overwrite").parquet(drop)
    cur.where(F.col("value") >= 30).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_psi_monitor(
        stream,
        lo,
        hi,
        ref_counts,
        out_path=f"{tmpdirs}/scores",
        checkpoint_dir=f"{tmpdirs}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.event_type: (r.psi, r.drifted)
        for r in spark.read.parquet(f"{tmpdirs}/scores").collect()
    }
    assert got == batch


def test_bucketize_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (50.0,), (99.9,), (100.0,), (140.0,)], "v double"
    )
    got = [
        r.b
        for r in df.select(
            DR.bucketize("v", F.lit(0.0), F.lit(100.0)).alias("b")
        ).collect()
    ]
    assert got == [0, 0, 5, 9, 9, 9]


def test_stream_psi_survives_novel_group(spark, tmpdirs):
    """A group that exists ONLY in the stream (novel event_type) must
    not crash the monitor (ANSI 0/0 on its empty reference total) — it
    reports maximal drift instead."""
    ref = spark.createDataFrame(
        [("known", float(v)) for v in range(10)], "event_type string, value double"
    )
    rng, ref_counts = reference_profile(ref)
    lo, hi = rng.first()

    drop = f"{tmpdirs}/drop2"
    spark.createDataFrame(
        [("novel", 3.0), ("novel", 7.0), ("known", 4.0)],
        "event_type string, value double",
    ).write.mode("overwrite").parquet(drop)

    stream = spark.readStream.schema("event_type string, value double").parquet(drop)
    q = stream_psi_monitor(
        stream, lo, hi, ref_counts,
        out_path=f"{tmpdirs}/scores2", checkpoint_dir=f"{tmpdirs}/ckpt2",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_type: r for r in spark.read.parquet(f"{tmpdirs}/scores2").collect()}
    assert got["novel"].drifted  # brand-new group = maximal drift
    assert got["novel"].psi > 0.2


def test_batch_psi_survives_one_sided_group(spark):
    """A group whose rows all fall in ONE cohort must not crash psi_drift."""
    rows = [(i, "both", float(i % 10)) for i in range(20)]
    rows += [(2 * i + 1, "cur_only", 5.0) for i in range(5)]  # all odd ids
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {r.event_type: r for r in
           DR.psi_drift(df, F.col("event_id") % 2 == 0).collect()}
    assert got["cur_only"].drifted


def test_stream_ks_equals_batch(spark, sf_small, tmpdirs):
    from vector_search_optimization_spark.streaming.drift import (
        stream_ks_monitor,
    )

    events = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    ).where(F.col("value").isNotNull())
    is_ref = F.col("event_id") % 2 == 0

    batch = {
        r.event_type: (r.n_ref_total, r.n_cur_total, r.d_num, r.ks_stat)
        for r in DR.ks_two_sample(
            events.withColumn("__is_ref", is_ref),
            "event_type", "value", "__is_ref",
            a_name="n_ref_total", b_name="n_cur_total",
        ).collect()
    }

    ref_counts = (
        events.where(is_ref)
        .groupBy("event_type", "value")
        .count()
        .withColumnRenamed("count", "n_ref")
    )

    cur = events.where(~is_ref).select("event_type", "value")
    drop = f"{tmpdirs}/ks_drop"
    cur.where(F.col("value") < 30).write.mode("overwrite").parquet(drop)
    cur.where(F.col("value") >= 30).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_ks_monitor(
        stream,
        ref_counts,
        out_path=f"{tmpdirs}/ks_scores",
        checkpoint_dir=f"{tmpdirs}/ks_ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.event_type: (r.n_ref_total, r.n_cur_total, r.d_num, r.ks_stat)
        for r in spark.read.parquet(f"{tmpdirs}/ks_scores").collect()
    }
    assert got == batch
