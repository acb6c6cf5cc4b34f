"""Streaming skyline maintenance must equal the batch two-phase
skyline once the stream has absorbed the same points (the merge
property skyline(A ∪ B) = skyline(skyline(A) ∪ B)). The fold's
exactly-once protocol is pinned for every merge in
tests/test_agg_maintenance.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import ranking_stats as RKS
from vector_search_optimization_spark.sources import load_table
from vector_search_optimization_spark.streaming.agg_maintenance import (
    stream_maintain_table,
)
from vector_search_optimization_spark.streaming.skyline_maintenance import (
    merge_skyline,
)


def _points(spark, sf_small):
    return load_table(spark, sf_small, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )


def _front(df):
    return {
        (r["p_partkey"], r["price_cents"], r["size"])
        for r in df.collect()
    }


def test_stream_front_equals_batch(spark, sf_small, tmpdirs):
    """Points arrive as two drop-zone files split by key parity; the
    maintained front after absorption equals the batch skyline — and
    the split is adversarial for pruning (each file's local front is a
    superset of its contribution to the global one)."""
    pts = _points(spark, sf_small)
    want = _front(RKS.two_phase_skyline(pts))

    drop = f"{tmpdirs}/drop"
    pts.where(F.col("p_partkey") % 2 == 0).write.mode("overwrite").parquet(drop)
    pts.where(F.col("p_partkey") % 2 == 1).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema(
            "p_partkey long, price_cents long, size long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_maintain_table(
        stream,
        table_path=f"{tmpdirs}/front",
        checkpoint=f"{tmpdirs}/ckpt",
        merge=merge_skyline,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = _front(spark.read.parquet(f"{tmpdirs}/front"))
    assert got == want and len(got) > 0
