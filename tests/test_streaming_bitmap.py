"""Incrementally-maintained exact bitmap distinct table
(streaming/bitmap_maintenance.py). The fold's exactly-once protocol is
pinned for every merge in tests/test_agg_maintenance.py."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import timeseries as TS
from vector_search_optimization_spark.streaming import bitmap_maintenance as BM
from vector_search_optimization_spark.streaming.agg_maintenance import (
    stream_maintain_table,
)


@pytest.fixture()
def scratch(tmp_path):
    d = {
        "drop": str(tmp_path / "drop"),
        "table": str(tmp_path / "bitmap_table"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    yield d
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, user_id long")


def test_stream_fold_matches_batch_distincts(spark, scratch):
    """The trap this module exists for: user 1 hits day 1 in BOTH
    micro-batches — an additive fold would count it twice; the bitmap OR
    must not. Also covers a user recurring across days (counts once in
    the total, once per day in DAU) and ids far apart (multiple
    buckets)."""
    a = _mkdf(
        spark,
        [
            (_ts(1, 1), 1),
            (_ts(1, 2), 2),
            (_ts(2, 1), 1),
            (_ts(1, 3), 100000),  # different bitmap bucket
        ],
    )
    b = _mkdf(
        spark,
        [
            (_ts(1, 5), 1),  # same user, same day, later batch
            (_ts(2, 5), 3),
            (_ts(2, 6), 100000),
        ],
    )
    a.coalesce(1).write.parquet(scratch["drop"] + "/b0")
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch["drop"] + "/*")
    )
    q = stream_maintain_table(
        stream, scratch["table"], scratch["ckpt"], BM.merge_bitmaps
    )
    try:
        q.processAllAvailable()
        b.coalesce(1).write.parquet(scratch["drop"] + "/b1")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.day_idx: (r.dau, r.n_events, r.total_actives)
        for r in BM.actives_from_bitmap_table(spark, scratch["table"]).collect()
    }
    both = a.union(b)
    want_daily = {
        r.day_idx: (r.dau, r.n)
        for r in both.select(TS.epoch_day("ts").alias("day_idx"), "user_id")
        .groupBy("day_idx")
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    want_total = both.select("user_id").distinct().count()
    assert len(got) == len(want_daily) == 2
    for day_idx, (dau, n) in want_daily.items():
        assert got[day_idx] == (dau, n, want_total)
    # day 1 has users {1, 2, 100000}: the cross-batch repeat of user 1
    # must NOT inflate dau (the additive-fold failure mode)
    d1 = min(got)
    assert got[d1][0] == 3
