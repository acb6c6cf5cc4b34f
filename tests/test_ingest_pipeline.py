"""End-to-end ingest integration: the reference's full pipeline shape —
files → convert → chunk → embed → IVF index → probe — run through the
engine's own operators only (SURVEY §0 step 1-2; embedding stand-in is
the seeded hash kernel since no model ships in the container)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import text as TX
from vector_search_optimization_spark.operators import ann
from vector_search_optimization_spark.sources import converters as CV

PARAGRAPH = (
    "spark shuffles data between stages when a wide dependency appears "
    "and the cost of that exchange dominates most large jobs so the "
    "engine tries to keep plans map side whenever the semantics allow "
    "which is why broadcast joins and partial aggregation matter so much "
    "at the hundred terabyte scale every extra pass over the corpus is "
    "real money and real hours on the cluster clock"
)


def hash_embedding(col: str):
    """Deterministic text-embedding stand-in (Arrow-batched): the
    unit-normalised 16-dim gaussian vector drawn from a RNG keyed by
    (seed 42, utf-8 text hash). Identical text gives an identical
    vector, so the index and probe steps can assert exact behavior."""

    @F.pandas_udf("array<float>")
    def _embed(s: pd.Series) -> pd.Series:
        out = []
        for text in s:
            digest = hashlib.sha256(b"42:" + (text or "").encode("utf-8")).digest()
            rng = np.random.RandomState(
                int.from_bytes(digest[:4], "big") % (2**31 - 1)
            )
            v = rng.standard_normal(16)
            n = float(np.linalg.norm(v))
            out.append((v / n if n else v).astype(np.float32))
        return pd.Series(out)

    return _embed(F.col(col))


@pytest.fixture(scope="module")
def staged_files(tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest_corpus")
    (root / "a.txt").write_text(PARAGRAPH)
    (root / "b.md").write_text("# heading\n\n" + PARAGRAPH.replace("spark", "flink"))
    (root / "c.html").write_text(
        "<html><body><p>" + PARAGRAPH.replace("spark", "trino") + "</p></body></html>"
    )
    (root / "d.pdf").write_bytes(CV.text_to_pdf(PARAGRAPH.replace("spark", "duckdb")))
    return str(root)


def test_end_to_end_ingest_convert_chunk_embed_index_probe(
    spark, staged_files, tmp_path
):
    # 1. convert: binary ingest -> text for every staged format
    converted = CV.convert_documents(CV.read_binary_docs(spark, staged_files))
    rows = converted.select("path", "converted", "text").collect()
    assert len(rows) == 4 and all(r.converted for r in rows)

    # 2. chunk: sliding word windows, stable ids
    chunks = (
        converted.select(
            F.element_at(F.split("path", "/"), -1).alias("doc"),
            F.explode(TX.word_chunks("text", chunk_tokens=16, overlap=4)).alias("c"),
        )
        .select(
            F.concat_ws("_", "doc", F.col("c.chunk_ix").cast("string")).alias(
                "chunk_id"
            ),
            F.col("c.chunk_text").alias("chunk_text"),
        )
        .withColumn("vec_id", F.xxhash64("chunk_id"))
    )
    n_chunks = chunks.count()
    assert n_chunks >= 16  # ~5 windows x 4 docs

    # 3. embed: deterministic surrogate kernel
    embedded = chunks.withColumn(
        "embedding", hash_embedding("chunk_text")
    ).persist()
    assert embedded.where(F.size("embedding") != 16).count() == 0

    # 4. index: train coarse quantizer, materialize the IVF layout
    cents = ann.train_ivf_centroids(embedded, num_cells=4)
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(embedded, cents, path)
    indexed, loaded_cents = ann.load_ivf_index(spark, path)
    assert indexed.count() == n_chunks

    # 5. probe: querying with a chunk's own text must return that chunk
    #    at rank 1 with cosine ~1 (identical text -> identical embedding)
    target = embedded.orderBy("chunk_id").first()
    top = ann.ivf_topk(indexed, loaded_cents, target.embedding, k=3).collect()
    assert top[0].vec_id == target.vec_id
    assert top[0].score == pytest.approx(1.0, abs=1e-5)

    # 6. and the same text re-embedded independently lands in the same
    #    cell (determinism across jobs -- the incremental-append contract)
    re_embedded = chunks.where(F.col("chunk_id") == target.chunk_id).withColumn(
        "embedding", hash_embedding("chunk_text")
    )
    re_cell = ann.assign_ivf_cells(re_embedded, loaded_cents).first()
    orig_cell = (
        indexed.where(F.col("vec_id") == target.vec_id).select("cell").first()
    )
    assert re_cell.cell == orig_cell.cell
    embedded.unpersist()
