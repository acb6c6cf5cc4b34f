"""Count-min sketch primitives shared by the batch audit query
(`__spark_entry__.evt_cms_audit`) and its streaming monitor
(``cms_cells`` over a stream, run by
``streaming.grid_monitor.start_grid_rewrite_monitor``).

The sketch is d×w integer counters with d pairwise-independent
universal hashes h_i(k) = ((a_i·(k mod KMOD) + b_i) mod P) mod w.
Constants stay below 2^31 and the key is pre-reduced mod a 2^20-scale
prime so no intermediate product exceeds ~2^52 — Spark 4 ANSI mode
makes 64-bit overflow an ERROR, not a wrap (the dedup.py hash-constant
rule).

Scale story: the build is ONE combinable aggregate whose output is a
FIXED d·w cells regardless of input size — each executor partial is
already a complete (tiny) sketch, so the shuffle moves O(d·w) rows per
partition and the merged sketch is the element-wise sum (the classic
mergeable-sketch property; that same additivity is what makes the
streaming state fold valid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "CMS_HASHES",
    "CMS_P",
    "CMS_KMOD",
    "CMS_W",
    "cms_hash_rows",
    "cms_cells",
    "cms_point_estimates",
]

CMS_HASHES = [
    (0, 1103515245, 12345),
    (1, 1013904223, 67890),
    (2, 1664525, 54321),
    (3, 22695477, 98765),
]
CMS_P = 2147483647  # Mersenne prime 2^31 - 1
CMS_KMOD = 1048573  # prime < 2^20: a * (k mod KMOD) < 2^52
CMS_W = 256


def cms_hash_rows(key: Column) -> Column:
    """Array of (i, bucket) structs — one per hash row — for ``key``."""
    k = key % F.lit(CMS_KMOD)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (((F.lit(a) * k + F.lit(b)) % F.lit(CMS_P)) % F.lit(CMS_W))
                .cast("long")
                .alias("bucket"),
            )
            for i, a, b in CMS_HASHES
        ]
    )


def cms_cells(df: DataFrame, key_col: str) -> DataFrame:
    """Build the sketch: (i, bucket, cell) counts — one combinable agg.

    Over a stream the cells ARE a valid incremental state: pure additive
    counters, the sketch of a union is the element-wise sum. Kept in
    complete mode the state is a FIXED d·w ≤ 1024 rows at any stream
    volume, each micro-batch shuffles only map-side-combined partial
    sketches, and an identity snapshot exports the readable cells frame
    that ``cms_point_estimates`` broadcast-joins (stream ≡ batch pinned
    in tests/test_streaming_cms.py)."""
    return (
        df.select(F.explode(cms_hash_rows(F.col(key_col))).alias("h"))
        .groupBy(F.col("h.i").alias("i"), F.col("h.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )


def cms_point_estimates(
    cells: DataFrame, probes: DataFrame, key_col: str
) -> DataFrame:
    """Point-query ``probes[key_col]`` against a cells frame: the CMS
    estimate is min over hash rows of the hashed cell count. Carries
    every non-key probe column through the group-by unchanged."""
    carry = [c for c in probes.columns if c != key_col]
    exploded = probes.select(
        key_col, *carry, F.explode(cms_hash_rows(F.col(key_col))).alias("h")
    ).select(
        key_col,
        *carry,
        F.col("h.i").alias("i"),
        F.col("h.bucket").alias("bucket"),
    )
    return (
        exploded.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy(key_col, *carry)
        .agg(F.min("cell").cast("long").alias("cms_estimate"))
    )
