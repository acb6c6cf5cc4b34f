"""Continuous curation: a document stream scrubbed, gated, and landed.

The batch curation stack (functions.redact, functions.text quality
gates, operators.dedup first-seen) applied to a Structured Streaming
ingest: documents arrive as files in a watched directory (the standard
lake drop-zone pattern), each micro-batch is PII-scrubbed and
quality-gated with the SAME column expressions the batch path uses, and
survivors append to the curated zone.

Because every stage is a stateless projection/filter, the streaming
plan is map-only per micro-batch — no state store, no watermark, no
shuffle — so the curated stream is exactly the batch result replayed
incrementally (equivalence-tested in tests/test_streaming_curation.py).
Cross-batch exact dedup composes with streaming.windows.first_seen
(stateful fingerprint carry) when arrival-order dedup is required.

Scale notes (100 TB): a stateless scrub/gate stream scales with
executor count alone; the only per-batch bound is file-listing cost in
the source (use maxFilesPerTrigger to cap batch size). The curated sink
is append-only parquet partitioned by lang — the same layout the batch
writers produce, so downstream consumers cannot tell which rows arrived
via stream vs backfill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.curation import curate_columns
from ..schemas import DOCUMENTS

__all__ = ["curate_columns", "read_documents_stream", "stream_curate_to_parquet"]


def read_documents_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """File-source stream over a parquet drop-zone with the canonical
    documents schema (explicit — a streaming source cannot infer)."""
    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 4)
        .parquet(drop_dir)
    )


def stream_curate_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Scrub+gate each micro-batch and append survivors, partitioned by
    lang. Stateless: exactly the batch `curate_columns` plan, replayed
    incrementally with checkpointed source offsets."""
    curated = curate_columns(stream_df)
    return (
        curated.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("lang")
        .start()
    )
