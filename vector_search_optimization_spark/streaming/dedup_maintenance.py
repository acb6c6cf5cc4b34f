"""Continuous corpus-dedup maintenance: streaming ingest probes and
feeds the persisted minhash band index.

The batch half lives in operators.dedup: minhash_band_rows produces the
(id, band, bucket) index rows, minhash_probe_corpus band-probes a new
batch against them. This module wires that loop into Structured
Streaming — the actual production shape of "nightly ingest" once the
cadence shrinks below a day: every micro-batch of documents

1. signatures ONLY itself (one map-side Arrow pass),
2. band-probes the CURRENT index (earlier corpus + every earlier
   micro-batch) — broadcast probe, the index never shuffles,
3. self-joins its own bands for intra-batch candidates (a pair arriving
   in the same micro-batch has no earlier index row to collide with),
4. appends its candidate pairs to the output log and its band rows to
   the index, so the NEXT batch sees this one.

Completeness contract (pytest-pinned, tests/test_streaming_curation.py):
after a bounded backlog drains, the union of emitted pairs equals the
batch-mode LSH candidate set over corpus ∪ stream MINUS the
corpus-internal pairs (the seeded index is assumed already deduped) —
independent of how the backlog was chopped into micro-batches.

Scale notes (100 TB): per batch, cost is O(batch) signature work plus
one scan of the band index (map-only broadcast-hash probe; at lake
scale the index is bucket-sorted parquet, see the batch pytest).
Exactly-once is offset-level, as in index_maintenance: the sinks are
append-only, so a replayed epoch can duplicate pairs/band rows —
candidates are re-verified (and thus deduped) downstream by
ngram_jaccard_pairs, the same contract as the batch path. Candidate
verification stays OUT of the stream on purpose: it needs the corpus
text table, which belongs to the downstream consumer, not the index
maintainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import dedup


def stream_dedup_against_corpus(
    stream_docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start the maintenance stream. ``index_path`` must be pre-seeded
    with the existing corpus's band rows (dedup.minhash_band_rows,
    written as parquet) with the same parameters (64 hashes, 16 bands,
    word 3-shingles, seed 42); candidate pairs (id_a = newer doc, id_b = already
    indexed or same-batch lower id) land at ``pairs_path``."""

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        sig_b = dedup.minhash_signatures_kernel(batch_df, 64).persist()
        bands_b = dedup.minhash_band_rows(sig_b, 16, num_hashes=64).persist()
        try:
            idx = spark.read.parquet(index_path)
            probe = bands_b.select(F.col("doc_id").alias("id_a"), "band", "bucket")
            cross = (
                idx.select(F.col("doc_id").alias("id_b"), "band", "bucket")
                .join(F.broadcast(probe), ["band", "bucket"])
                .select("id_a", "id_b")
            )
            intra = dedup.minhash_lsh_candidates(sig_b, 16, num_hashes=64)
            out = cross.unionByName(intra).distinct()
            out.write.mode("append").parquet(pairs_path)
            bands_b.write.mode("append").parquet(index_path)
        finally:
            bands_b.unpersist()
            sig_b.unpersist()

    writer = stream_docs.writeStream.foreachBatch(_fold).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
