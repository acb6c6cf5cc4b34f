"""Round-12 optimization internals: the spread_scan split estimator's
row-group cap and logical-plan shuffle detection (ADVICE r11 items 1-2).

A parquet byte split only carries rows when it covers a row-group start,
so a single-row-group file larger than n*maxPartitionBytes — exactly the
unsplittable pathology spread_scan exists to fix — must not be counted
as many splits by the byte estimate. And the already-shuffled fallback
previously grepped the ANALYZED plan for "Exchange", a physical-only
node that can never match there; it now matches the logical
shuffle-producing nodes (Repartition/Aggregate/Join/...).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.session import release_caches
from vector_search_optimization_spark.sources import load_table, spread_scan
from vector_search_optimization_spark.sources import readers as R


def test_byte_estimate_capped_by_row_groups(spark, sf_small):
    # force the byte estimate to imply many splits of the single-row-group
    # documents file: without the row-group cap the helper would no-op
    # and the stage would still run as ONE task
    path = os.path.join(sf_small, "documents.parquet")
    size = os.path.getsize(path)
    assert R._parquet_row_groups(path) == 1  # the driver-table pathology
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(size // 8, 1)))
    try:
        d = load_table(spark, sf_small, "documents").select("doc_id", "text")
        out = spread_scan(d, "doc_id")
        assert out is not d  # byte estimate alone would have said no-op
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_row_group_cache_is_stat_keyed(spark, sf_small, tmp_path):
    import shutil

    src = os.path.join(sf_small, "documents.parquet")
    tgt = str(tmp_path / "documents.parquet")
    shutil.copyfile(src, tgt)
    assert R._parquet_row_groups(tgt) == 1
    assert tgt in R._ROW_GROUP_CACHE
    # rewrite with more row groups -> re-probe (regeneration safety)
    import pandas as pd

    pd.DataFrame({"doc_id": range(100)}).to_parquet(
        tgt, index=False, row_group_size=10
    )
    assert R._parquet_row_groups(tgt) == 10


def test_post_shuffle_frame_is_not_respread(spark, sf_small):
    # a frame whose parallelism comes from an upstream aggregation is
    # already shuffle-distributed: spread_scan must not add a redundant
    # exchange (the analyzed plan carries Aggregate, not "Exchange")
    d = load_table(spark, sf_small, "documents")
    agg = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    assert spread_scan(agg, "doc_id") is agg


def test_fresh_scan_still_spreads(spark, sf_small):
    # the logical-node match must not misfire on plain scan+project
    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    out = spread_scan(d, "doc_id")
    assert out is not d


def test_release_caches_frees_the_whole_session(spark):
    """release_caches needs no handle on what was persisted: a plain
    persist, a cache of a frame derived from it and an eager
    localCheckpoint (which the CacheManager does not track) are all
    freed through an unrelated frame."""
    base = spark.range(50).withColumn("sq", F.col("id") * F.col("id"))
    base.persist().count()
    base.where(F.col("id") % 2 == 0).cache().count()
    spark.range(7).localCheckpoint(eager=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() >= 3
    release_caches(spark.range(1))
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name",
    [
        # each once leaked a persist no release reached: per-step
        # funnel persists, the gap-fill hourly aggregate, the LSH
        # candidate table inside ngram_jaccard_pairs
        "evt_funnel",
        "evt_gap_fill",
        "minhash_verified_dedup",
        # persist shared frames: bigram tokens, winnow anchors, daily sums
        "doc_bigram_lm",
        "dup_span_coverage",
        "evt_theil_sen_slope",
    ],
)
def test_queries_release_all_caches(spark, sf_small, name):
    """A registry query may persist freely; once its result is consumed,
    release_caches() leaves no persisted RDD and an empty CacheManager,
    so nothing it cached subsidizes or pressures the next query."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf_small)
    df.write.format("noop").mode("overwrite").save()
    release_caches(df)
    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert left == 0, f"{name} left {left} cached RDD(s)"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
