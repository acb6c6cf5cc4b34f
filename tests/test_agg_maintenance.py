"""Incrementally-maintained tables (streaming/agg_maintenance.py): the
counts stream ≡ batch pin, and ONE exactly-once protocol suite run
against every merge the table fold serves (counts, bitmaps, skyline
front)."""

from __future__ import annotations

import datetime as dt
import functools
import os
import shutil

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.streaming import agg_maintenance as AM
from vector_search_optimization_spark.streaming.bitmap_maintenance import (
    merge_bitmaps,
)
from vector_search_optimization_spark.streaming.skyline_maintenance import (
    merge_skyline,
)


@pytest.fixture()
def scratch(tmp_path):
    d = {
        "drop": str(tmp_path / "drop"),
        "table": str(tmp_path / "agg_table"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    yield d
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "k string, v double")


_count_kv = functools.partial(AM.merge_counts, group_col="k", value_col="v")


def test_stream_fold_matches_batch_aggregate(spark, scratch):
    a = _mkdf(spark, [("x", 1.0), ("x", 2.0), ("y", 10.0)])
    b = _mkdf(spark, [("x", 4.0), ("z", 7.0)])
    a.coalesce(1).write.parquet(scratch["drop"] + "/b0")

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch["drop"] + "/*")
    )
    q = AM.stream_maintain_table(
        stream, scratch["table"], scratch["ckpt"], _count_kv
    )
    try:
        q.processAllAvailable()
        b.coalesce(1).write.parquet(scratch["drop"] + "/b1")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.k: (r.n, r.sum_value)
        for r in spark.read.parquet(scratch["table"]).collect()
    }
    want = {
        r.k: (r.n, r.s)
        for r in a.union(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    # markers are scoped to the query's checkpoint lineage
    assert AM.committed_epoch(scratch["table"], AM._scope_tag(scratch["ckpt"])) >= 1


def test_integer_value_column_keeps_double_schema(spark, scratch):
    df = spark.createDataFrame([("x", 3), ("x", 4)], "k string, v long")
    AM.fold_batch_into_table(df, 0, scratch["table"], _count_kv)
    t0 = dict(spark.read.parquet(scratch["table"]).dtypes)["sum_value"]
    AM.fold_batch_into_table(df, 1, scratch["table"], _count_kv)
    t1 = dict(spark.read.parquet(scratch["table"]).dtypes)["sum_value"]
    assert t0 == t1 == "double"


# ---------------------------------------------------------------------------
# The exactly-once protocol, once per merge. Each family gives three
# batches A, B, C; the expected table after folding any prefix of them is
# the merge applied ONCE to their union (merge(None, A ∪ B …)) — the
# batch result — so every test below is also a stream ≡ batch check.
# ---------------------------------------------------------------------------


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


_FAMILIES = {
    # B adds to a key A has (y) and a new key (z); C revisits x
    "counts": (
        _count_kv,
        "k string, v double",
        [[("x", 1.0), ("y", 2.0)], [("y", 5.0), ("z", 3.0)], [("x", 2.0)]],
    ),
    # B repeats user 1 on day 1 (an additive fold would count it twice)
    # and lands in a second bitmap bucket
    "bitmap": (
        merge_bitmaps,
        "ts timestamp, user_id long",
        [
            [(_ts(1, 1), 1), (_ts(1, 2), 2)],
            [(_ts(1, 5), 1), (_ts(2, 1), 3), (_ts(1, 3), 100000)],
            [(_ts(2, 4), 1)],
        ],
    ),
    # B's (3) is dominated by (1) and its (4) dominates all of A; C's (5)
    # is cheaper but smaller, so it joins the front beside (4)
    "skyline": (
        merge_skyline,
        "p_partkey long, price_cents long, size long",
        [[(1, 100, 5), (2, 200, 9)], [(3, 150, 4), (4, 90, 9)], [(5, 80, 3)]],
    ),
}


@pytest.fixture(params=sorted(_FAMILIES))
def family(request, spark):
    merge, schema, batches = _FAMILIES[request.param]
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    return merge, frames


def _rows(df) -> set:
    """Order-free table content; binary bitmaps compare as bytes."""
    return {
        tuple(
            sorted(
                (k, bytes(v) if isinstance(v, (bytearray, memoryview)) else v)
                for k, v in r.asDict().items()
            )
        )
        for r in df.collect()
    }


def _table(spark, path) -> set:
    return _rows(spark.read.parquet(path))


def _batch(merge, frames) -> set:
    union = functools.reduce(lambda x, y: x.unionByName(y), frames)
    return _rows(merge(None, union))


def test_replayed_epoch_is_idempotent(spark, scratch, family):
    merge, (a, b, _) = family
    table = scratch["table"]
    assert AM.fold_batch_into_table(a, 0, table, merge)
    assert AM.fold_batch_into_table(b, 1, table, merge)
    before = _table(spark, table)
    assert before == _batch(merge, [a, b])
    # a crash-replay re-delivers epoch 1: the fold must refuse
    assert not AM.fold_batch_into_table(b, 1, table, merge)
    assert _table(spark, table) == before
    assert AM.committed_epoch(table) == 1


def test_initial_epoch_is_staged_atomically(spark, scratch, family):
    """The first epoch must leave either nothing or data+marker —
    no window where data exists without its marker (which would
    double-count on replay)."""
    merge, (a, _, _) = family
    table = scratch["table"]
    assert AM.fold_batch_into_table(a, 0, table, merge)
    assert AM.committed_epoch(table) == 0
    assert not os.path.exists(table + ".__staging__")
    # replay of the initial epoch is refused
    assert not AM.fold_batch_into_table(a, 0, table, merge)
    assert _table(spark, table) == _batch(merge, [a])


def test_interrupted_swap_recovers_history(spark, scratch, family):
    """Simulate a kill between commit_swap's two renames: the table dir
    is gone, history sits under .__old__ — the replayed fold must
    restore and merge, not re-initialize from one batch."""
    merge, (a, b, c) = family
    table = scratch["table"]
    AM.fold_batch_into_table(a, 0, table, merge)
    AM.fold_batch_into_table(b, 1, table, merge)
    os.rename(table, table + ".__old__")  # crash window
    assert AM.fold_batch_into_table(c, 2, table, merge)
    got = _table(spark, table)
    assert got == _batch(merge, [a, b, c])
    assert got != _batch(merge, [c])  # what losing history would leave


def test_foreign_checkpoint_lineage_is_refused(spark, scratch, family):
    merge, (a, b, _) = family
    AM.fold_batch_into_table(a, 0, scratch["table"], merge, scope="aaaa1111")
    with pytest.raises(ValueError, match="different .*lineage"):
        AM.fold_batch_into_table(b, 1, scratch["table"], merge, scope="bbbb2222")


def test_lake_uri_paths_are_rejected_explicitly(spark, family):
    merge, (a, _, _) = family
    with pytest.raises(NotImplementedError):
        AM.fold_batch_into_table(a, 0, "hdfs://nn/agg", merge)


def test_starter_rejects_lake_uri_before_stream_starts(spark, scratch, family):
    """The starter refuses a lake URI itself — not the first
    micro-batch, inside an already-running stream."""
    merge, (a, _, _) = family
    a.write.parquet(scratch["drop"] + "/b0")
    stream = spark.readStream.schema(a.schema).parquet(scratch["drop"])
    before = len(spark.streams.active)
    with pytest.raises(NotImplementedError):
        AM.stream_maintain_table(stream, "hdfs://nn/t", scratch["ckpt"], merge)
    assert len(spark.streams.active) == before
