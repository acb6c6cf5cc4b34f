r"""Deduplication suite for large-scale training-data pipelines.

Engine extension beyond the reference (its closest analog is the
intra-document similarity audit, chunk_similarities.ipynb:447 c21). Five
strategies, cheapest to richest:

- exact:          hash-groupBy on a canonical fingerprint. One shuffle.
- minhash LSH:    shingle → minhash signature → band buckets → bucket join.
                  Near-dup candidates without the O(n^2) self-join; the
                  standard web-corpus dedup (Broder '97).
- simhash:        64-bit similarity-preserving signature; hamming-ball
                  candidate pairs via rotated prefix buckets.
- n-gram jaccard: exact jaccard on char n-grams for candidate verification.
- embedding:      cosine near-dup over an embedding column (see
                  operators.ann for the LSH-bucketed scale path).

Scale notes: every strategy is one or two hash-partition shuffles; nothing
materializes pairs outside a bucket. Bucket skew (a viral boilerplate
string) is handled by AQE skew-join plus the per-bucket pair cap.

NULL contract: signature/shingle producers DROP NULL-text rows (you
cannot dedup absent text; previously the expression path emitted
all-NULL signatures while the kernels hashed '' — divergent pair sets).
Tokenization contract: ASCII \s+ split of lower(text), empty pieces
dropped — identical across the expression path, the Arrow kernels
(functions.text.word_tokens_py), and the DuckDB oracles; python
str.split() is unicode-aware and MUST NOT be used here.
"""

from __future__ import annotations

import numpy as np
# module-level: files defining pandas_udfs must import pandas at module
# scope — postponed annotations ('pd.Series' strings) fail to resolve
# against a function-local import (CLAUDE.md)
import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..session import release_caches  # noqa: F401 (re-exported for perfbench)
from ..sources.readers import spread_scan

# --- exact -------------------------------------------------------------------

def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep exactly one row (min id) per normalized-text fingerprint.

    min_by-based: one partial-aggregating shuffle on the fingerprint, no
    window, no sort.
    """
    keep = (
        df.select(F.col("doc_id").alias("__id"), TX.fingerprint("text").alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("__id").alias("doc_id"))
        .drop("__fp")
    )
    return df.join(keep, "doc_id", "left_semi")


# --- minhash + LSH -----------------------------------------------------------

# Universal-hash prime: Mersenne 2^31-1 keeps every a*h+b product inside a
# 64-bit long (Spark 4 runs ANSI mode — long overflow is an error, not a wrap)
_MERSENNE = (1 << 31) - 1


def minhash_coeffs(num_hashes: int = 64) -> tuple[list[int], list[int]]:
    """The seeded (a_i, b_i) universal-hash coefficients, as plain ints.

    Single source for the Spark expression path, the Arrow kernel, and the
    generated DuckDB oracle SQL — all three must draw the identical family.
    """
    rng = np.random.RandomState(42)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signatures(df: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(id, signature array<long>) — minhash over word-shingle sets.

    Universal-hash family h_i(x) = (a_i * x + b_i) mod p over the shingle
    hash. Built entirely from Catalyst expressions: the per-row cost is
    num_hashes * |shingles| multiply-mods; no UDF, no shuffle. a_i/b_i are
    seeded driver-side constants (deterministic plan). Shingles hash with
    the SQL-expressible polynomial rolling hash, so the signatures are
    bit-identical to the kernel path and the DuckDB oracle.
    """
    a, b = minhash_coeffs(num_hashes)

    shingle_hashes = F.transform(TX.word_shingles("text", 3), lambda s: TX.poly_hash(s))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("__sh"),
                    lambda h: F.pmod(
                        h * F.lit(a[i]) + F.lit(b[i]), F.lit(_MERSENNE)
                    ),
                )
            )
            for i in range(num_hashes)
        ]
    )
    return (
        df.where(F.col("text").isNotNull())
        .select(F.col("doc_id"), shingle_hashes.alias("__sh"))
        .select("doc_id", sig.alias("signature"))
    )


def minhash_signatures_kernel(df: DataFrame, num_hashes: int = 64) -> DataFrame:
    """Arrow-batched numpy formulation of minhash_signatures.

    Spark's higher-order array functions run interpreted (no codegen), so
    the expression path costs ~2ms/doc at 64 hashes; this kernel flattens a
    batch's shingles once and does the (num_hashes x m) permute-min as two
    numpy ops — measured ~10x faster at sf0.1. The shingle hash is the
    polynomial rolling hash, bit-identical to minhash_signatures and to
    the generated DuckDB oracle.
    """
    import pandas as pd

    a_l, b_l = minhash_coeffs(num_hashes)
    a, b = np.array(a_l, dtype=np.int64), np.array(b_l, dtype=np.int64)

    def batches(it):
        for pdf in it:
            sigs = []
            for text in pdf["text"]:
                toks = TX.word_tokens_py(text)
                # distinct-shingle min == all-windows min, so the
                # vectorized window hash needs no string set; unique just
                # shrinks the permute-min matrix
                h = np.unique(TX.poly_hash_shingles_np(toks, 3))
                sig = ((a[:, None] * h[None, :] + b[:, None]) % _MERSENNE).min(axis=1)
                sigs.append(sig.tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "signature": sigs})

    id_type = df.schema["doc_id"].dataType.simpleString()
    # spread before the kernel: a single-row-group parquet scan is
    # unsplittable, so without this the whole permute-min pass runs in
    # ONE task (guide §2.5); no-op whenever the input already has
    # >= default-parallelism partitions (any lake-scale scan, any
    # post-shuffle frame)
    return spread_scan(
        df.where(F.col("text").isNotNull()).select("doc_id", "text"),
        "doc_id",
    ).mapInPandas(batches, schema=f"doc_id {id_type}, signature array<long>")


def lsh_collision_probability(s: float, num_bands: int, rows_per_band: int) -> float:
    """P(candidate | jaccard=s) for banded MinHash LSH: 1 - (1 - s^r)^b.

    The S-curve every banding choice trades on (Broder '97 / MMDS ch.3):
    steepness sits near the threshold t ≈ (1/b)^(1/r)."""
    return 1.0 - (1.0 - s**rows_per_band) ** num_bands


def tune_lsh_bands(num_hashes: int, threshold: float) -> tuple[int, int]:
    """Pick (num_bands, rows_per_band) for a target jaccard threshold.

    Standard S-curve optimization (the public datasketch recipe):
    over every divisor banding of the signature, minimize
    ∫₀ᵗ P(candidate|s) ds + ∫ₜ¹ (1-P) ds — false-positive area below
    the threshold plus false-negative area above it, equally weighted
    (numeric integration; exact enough at 1e-3 steps). Returns the
    banding for minhash_lsh_candidates.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    best: tuple[float, int, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        steps = 1000
        for i in range(steps):
            s = (i + 0.5) / steps
            p = lsh_collision_probability(s, b, r)
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        err = (0.5 * fp + 0.5 * fn) / steps
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def minhash_band_rows(
    signatures: DataFrame,
    num_bands: int = 16,
    num_hashes: int | None = None,
) -> DataFrame:
    """Exploded LSH band keys per document: (id, band, bucket) where
    bucket = xxhash64 of the band's signature slice. This IS the corpus
    dedup index row format — persist it as a table bucketed on
    ``bucket`` (``bucketBy`` + ``saveAsTable``) and nightly batches band-probe it
    (minhash_probe_corpus) without recomputing corpus signatures.

    num_bands must divide the signature length: a non-divisor silently
    ignores trailing hashes, and num_bands > num_hashes degenerates to
    empty band slices — one shared bucket, an O(n^2) candidate cross
    product. Pass ``num_hashes`` for a free static check (no job; the
    length is not in the schema).
    """
    if num_hashes is not None and (
        num_bands < 1 or num_bands > num_hashes or num_hashes % num_bands
    ):
        raise ValueError(
            f"num_bands={num_bands} must divide num_hashes={num_hashes} "
            f"(and be within [1, {num_hashes}])"
        )
    n_hashes_col = F.size(F.col("signature"))
    rows_per_band = (n_hashes_col / num_bands).cast("int")
    return signatures.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda band: F.struct(
                    band.alias("band"),
                    F.xxhash64(
                        F.slice("signature", band * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_probe_corpus(batch: DataFrame, corpus_bands: DataFrame) -> DataFrame:
    """Incremental (nightly-ingest) corpus dedup: band-probe a NEW batch
    against a persisted corpus index instead of re-deduping the corpus.

    ``corpus_bands`` is the (id, band, bucket) table minhash_band_rows
    produced for the existing corpus (at lake scale: a bucketed table so
    the probe join never shuffles the index — the batch side broadcasts).
    The batch's signatures/bands are computed here with the index's
    parameters (64 hashes, 16 bands, word 3-shingles, seed 42), or the
    buckets wouldn't collide.

    Returns candidate pairs (id_a = batch id, id_b = corpus id),
    distinct; verify exactly with ngram_jaccard_pairs over the union of
    corpus and batch texts.

    Scale: one map-side signature pass over the BATCH only, one
    broadcast-hash probe over the index scan (no corpus shuffle), and
    the candidate set is bucket-bounded. Appending the batch's own
    band/sig rows to the index afterwards keeps tomorrow's probe
    consistent (append→probe pytest in tests/test_dedup.py).
    """
    sig_b = minhash_signatures_kernel(batch, 64)
    bands_b = minhash_band_rows(sig_b, 16, num_hashes=64).select(
        F.col("doc_id").alias("id_a"), "band", "bucket"
    )
    return (
        corpus_bands.select(F.col("doc_id").alias("id_b"), "band", "bucket")
        .join(F.broadcast(bands_b), ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    num_bands: int = 16,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH banding: equal band-slices → candidate pairs (id_a < id_b).

    Rows per band = num_hashes / num_bands. Explode to (band, band_hash)
    keys, self-join per bucket, distinct pairs. Two shuffles (explode-agg,
    pair-distinct); candidate volume is bucket-bounded.

    num_bands must divide the signature length: a non-divisor silently
    ignores trailing hashes, and num_bands > num_hashes degenerates to
    empty band slices — one shared bucket, an O(n^2) candidate cross
    product. Pass ``num_hashes`` for a free static check (no job; the
    length is not in the schema).
    """
    bands = minhash_band_rows(signatures, num_bands, num_hashes=num_hashes)

    a = bands.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH pipeline: candidates verified by signature-estimated
    jaccard (fraction of agreeing minhashes). Returns (id_a, id_b, est_jaccard).
    """
    # signatures feed three consumers (banding + both join sides): persist
    # once instead of recomputing the shingle->hash pipeline per consumer.
    # At lake scale this is the "write the signature table" stage.
    from pyspark import StorageLevel

    sigs = minhash_signatures_kernel(df, num_hashes)
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_lsh_candidates(sigs, num_bands, num_hashes=num_hashes)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("__sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("__sb"))
    est = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size("__sa")
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= jaccard_threshold)
    )


# --- simhash ------------------------------------------------------------------

def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash over word shingles (Charikar '02).

    For each of the 64 bit positions, sum +1/-1 votes of each shingle's
    hash bit; the sign becomes the output bit. Explode + groupBy with 64
    unrolled sum expressions: one pass over the shingles, map-side partial
    aggregation, bit positions are plan literals (shiftright needs them).

    The shingle hash packs two 31-bit polynomial hashes (bases 131/137)
    into bits 0..61 (bits 62/63 are always 0), so the value is
    reproducible in DuckDB and in the Arrow kernel.
    """
    shingle_hash = lambda s: F.shiftleft(  # noqa: E731
        TX.poly_hash(s, TX.POLY_BASE), 31
    ).bitwiseOR(TX.poly_hash(s, TX.POLY_BASE2))
    exploded = df.where(F.col("text").isNotNull()).select(
        F.col("doc_id"),
        F.explode(F.transform(TX.word_shingles("text", 2), shingle_hash)).alias("__h"),
    )
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"__b{b}")
            for b in range(64)
        ]
    )
    packed = F.lit(0).cast("long")
    for b in range(64):
        packed = packed.bitwiseOR(
            F.shiftleft((F.col(f"__b{b}") > 0).cast("long"), b)
        )
    return votes.select(F.col("doc_id"), packed.alias("simhash"))


def simhash_kernel(df: DataFrame) -> DataFrame:
    """Arrow-batched numpy formulation of simhash (see
    minhash_signatures_kernel for why: interpreted HOFs lose to one
    (m x 64) bit-vote matrix per doc), bit-identical to simhash and the
    DuckDB oracle."""
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    def batches(it):
        for pdf in it:
            out = []
            for text in pdf["text"]:
                toks = TX.word_tokens_py(text)
                # votes are per DISTINCT shingle (word_shingles is
                # array_distinct): dedupe on the packed 62-bit pair, which
                # identifies the shingle string up to a 2^-62 collision
                h1 = TX.poly_hash_shingles_np(toks, 2, TX.POLY_BASE)
                h2 = TX.poly_hash_shingles_np(toks, 2, TX.POLY_BASE2)
                h = np.unique(
                    (h1.astype(np.uint64) << np.uint64(31)) | h2.astype(np.uint64)
                )
                # signed votes: uint64 would wrap the -1 votes and turn the
                # majority test into votes != 0 (diverging from simhash())
                votes = (
                    ((h[:, None] >> shifts[None, :]) & 1).astype(np.int64) * 2 - 1
                ).sum(axis=0)
                packed = ((votes > 0).astype(np.uint64) << shifts).sum(
                    dtype=np.uint64
                )
                out.append(np.int64(packed.astype(np.int64)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    id_type = df.schema["doc_id"].dataType.simpleString()
    # spread before the kernel (single-row-group scans are unsplittable —
    # guide §2.5; no-op at lake scale / post-shuffle)
    return spread_scan(
        df.where(F.col("text").isNotNull()).select("doc_id", "text"),
        "doc_id",
    ).mapInPandas(batches, schema=f"doc_id {id_type}, simhash long")


def hamming_distance(a, b):
    """Popcount of XOR via bit_count (Spark >= 3.5)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs with simhash hamming distance <= max_hamming.

    Bucketing: split the 64-bit hash into (max_hamming + 1) segments — a
    pair within the hamming ball must agree exactly on >= 1 segment
    (pigeonhole), so joining on (segment_idx, segment_value) finds all true
    pairs while only comparing within buckets.
    """
    from pyspark import StorageLevel

    n_seg = max_hamming + 1
    seg_bits = 64 // n_seg
    hashed = simhash_kernel(df).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    mask = (1 << seg_bits) - 1

    def seg_val(col, j):
        return F.shiftright(col, j * seg_bits).bitwiseAND(F.lit(mask))

    segs = hashed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg"), seg_val(F.col("simhash"), i).alias("segval")
                    )
                    for i in range(n_seg)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "simhash", "s.seg", "s.segval")

    a = segs.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("__ha"), "seg", "segval"
    )
    b = segs.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("__hb"), "seg", "segval"
    )
    # dedup without a distinct-shuffle: a pair is emitted only by its FIRST
    # matching segment (keep at segment s iff no segment j < s also matches)
    first_match = F.lit(True)
    for j in range(n_seg - 1):
        first_match = first_match & (
            (F.col("seg") <= j) | (seg_val(F.col("__ha"), j) != seg_val(F.col("__hb"), j))
        )
    return (
        a.join(b, ["seg", "segval"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(first_match)
        .select(
            "id_a", "id_b", hamming_distance("__ha", "__hb").alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
    )


# --- n-gram jaccard ------------------------------------------------------------

def shingle_hash_rows(df: DataFrame) -> DataFrame:
    """Exploded (id, g) rows of the distinct word-shingle poly hashes per
    document — the fingerprint table for decontamination / overlap joins.

    Same tokenization and hash as minhash_signatures_kernel (lower +
    whitespace split, vectorized polynomial rolling hash), so the DuckDB
    shingle CTE reproduces the values exactly. Scale: map-side explode
    (no shuffle); the downstream overlap join broadcasts the (small)
    benchmark fingerprint set.
    """
    import pandas as pd

    id_type = df.schema["doc_id"].dataType.simpleString()

    def batches(it):
        for pdf in it:
            ids: list = []
            gs: list = []
            for i, text in zip(pdf["doc_id"].tolist(), pdf["text"]):
                h = np.unique(TX.poly_hash_shingles_np(TX.word_tokens_py(text), 3))
                ids.extend([i] * len(h))
                gs.extend(h.tolist())
            yield pd.DataFrame({"doc_id": ids, "g": gs})

    # spread before the kernel (single-row-group scans are unsplittable —
    # guide §2.5; no-op at lake scale / post-shuffle)
    return spread_scan(
        df.where(F.col("text").isNotNull()).select("doc_id", "text"),
        "doc_id",
    ).mapInPandas(batches, schema=f"doc_id {id_type}, g long")


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact char-n-gram jaccard for a candidate pair table (id_a, id_b).

    The verification stage after LSH: joins the n-gram sets onto the
    (small) candidate table and computes |A∩B| / |A∪B| with array
    intersect/union expressions.
    """
    # the candidate table feeds the id-set AND the final join: persist it so
    # an upstream LSH pipeline isn't recomputed per consumer.
    from pyspark import StorageLevel

    candidates = candidates.persist(StorageLevel.MEMORY_AND_DISK)
    # compute n-grams only for rows that appear in a candidate pair — the
    # candidate set is tiny next to the corpus, and the HOF n-gram expansion
    # is the expensive part. r12: the n-gram expansion is an INTERPRETED
    # higher-order expression over an unsplittable single-file scan
    # (guide §2.5) — spread the scan BEFORE the broadcast semi-join
    # (broadcast preserves the spread partitioning), and persist the
    # expanded grams so the two join sides don't each re-expand.
    cand_ids = (
        candidates.select(F.col("id_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    grams = (
        spread_scan(df.select("doc_id", "text"), "doc_id")
        .join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select(F.col("doc_id"), TX.char_ngrams("text", 5).alias("__g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("__g").alias("__ga"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("__g").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = F.size(F.array_union("__ga", "__gb")).cast("double")
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.when(union == 0, 0.0).otherwise(inter / union), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


# --- canonicalization ---------------------------------------------------------

def canonical_duplicate_groups(pairs: DataFrame) -> DataFrame:
    """Near-duplicate canonicalization: connected components over the
    verified pair graph, keeping the min doc id as each group's canonical
    representative — the "pick one survivor per dup cluster" step that
    follows candidate verification in a training-data dedup pipeline.

    Returns (canonical_id, group_size) per duplicate group, largest first.

    Scale: the pair graph is sparse (bucket-bounded candidates, verified),
    so the component propagation shuffles only edges + labels per round,
    O(log n) rounds — the corpus itself never enters the loop. The final
    keep-set is then ``df.join(groups_members, id, "left_anti")`` on ids
    minus canonicals, never a full-text comparison.
    """
    from .graph import connected_components

    comps = connected_components(pairs, src="id_a", dst="id_b", id_col="doc_id")
    return (
        comps.groupBy(F.col("component").alias("canonical_id"))
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") >= 2)
        .orderBy(F.desc("group_size"), "canonical_id")
    )


# --- embedding near-dup ----------------------------------------------------------

# --- Bloom-filter decontamination prefilter ----------------------------------


def _bloom_positions(h: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """(len(h), k) bit positions via double hashing (Kirsch-Mitzenmacher):
    pos_i = (h1 + i*h2) mod n_bits with h1/h2 carved from the 64-bit
    hash, h2 forced odd so the k probes never collapse. Pure integer
    math — bit-identical on every engine/platform."""
    h = h.astype(np.uint64)
    nb = np.uint64(n_bits)
    h1 = h % nb
    h2 = (((h >> np.uint64(33)) << np.uint64(1)) | np.uint64(1)) % nb
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % nb).astype(np.int64)


def build_bloom_bitmap(hashes: DataFrame, n_bits: int = 1 << 23) -> np.ndarray:
    """Distributed Bloom-filter build over a 64-bit hash column.

    Spark 4 does not expose bloom_filter_agg/might_contain as SQL
    functions, so the build is a mapInPandas partial-bitmap pass: each
    partition ORs its hashes into a local (n_bits/8)-byte numpy bitmap,
    the driver ORs the per-partition bitmaps (bounded: partitions ×
    n_bits/8 bytes — 1 MiB each at the 2^23 default). The result is the
    compact membership sketch to broadcast where the exact key set is
    too big to ship: ~10 bits/element at 1% FPR vs 8+ bytes/element for
    the exact hash set.
    """
    import pandas as pd

    nbytes = n_bits // 8

    def partial(it):
        bm = np.zeros(nbytes, dtype=np.uint8)
        for pdf in it:
            h = pdf["g"].to_numpy(dtype=np.int64)
            if len(h):
                pos = _bloom_positions(h, n_bits, 4).ravel()
                np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    rows = hashes.select("g").mapInPandas(
        partial, schema="bm binary"
    ).collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for r in rows:
        out |= np.frombuffer(r.bm, dtype=np.uint8)
    return out


def bloom_contains_expr(spark, bitmap: np.ndarray, n_bits: int, k: int):
    """Arrow-batched membership probe against a broadcast Bloom bitmap.
    Returns a column function usable as ``contains(F.col("g"))``. No
    false negatives; false-positive rate ≈ (1 - e^(-k·n/m))^k."""
    bc = spark.sparkContext.broadcast(bitmap)

    @F.pandas_udf("boolean")
    def _contains(s: pd.Series) -> pd.Series:
        bm = bc.value
        h = s.to_numpy(dtype=np.int64)
        if not len(h):
            return pd.Series([], dtype=bool)
        pos = _bloom_positions(h, n_bits, k)
        bits = (bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    return _contains


def decontaminate_with_bloom(
    df: DataFrame,
    is_benchmark,
    n_bits: int = 1 << 23,
) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter — EXACT results.

    The broadcast-set decontamination (see decontaminate_overlap's
    registered query) ships the full benchmark fingerprint set to every
    executor; at 1e8+ benchmark shingles that broadcast is GBs. Here the
    corpus-side gram stream is prefiltered map-side against a compact
    Bloom bitmap (~10 bits/shingle at 1% FPR), and only the surviving
    grams — true hits plus an FPR-bounded trickle — reach the exact
    verification join, which therefore no longer needs a broadcast-sized
    right side (a plain hash join of two now-small inputs). Bloom
    filters have NO false negatives, and the exact join removes the
    false positives, so the flagged id set is IDENTICAL to the exact
    path's (pytest-pinned; the registered query shares the exact path's
    DuckDB oracle for the same reason).

    Returns the distinct flagged (non-benchmark) ids as ``id_col``.
    """
    grams = shingle_hash_rows(df)
    bench_g = grams.where(is_benchmark).select("g").distinct()
    bitmap = build_bloom_bitmap(bench_g, n_bits)
    contains = bloom_contains_expr(df.sparkSession, bitmap, n_bits, 4)
    cand = grams.where(~is_benchmark).where(contains(F.col("g")))
    return (cand.join(bench_g, "g", "left_semi").select("doc_id").distinct())


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. '23: cluster
    the embedding space, then near-dedup WITHIN clusters only).

    Stages:

    1. assign every row to its IVF cell — broadcast centroid argmin
       (operators.ann.assign_ivf_cells), NO shuffle;
    2. intra-cell all-pairs cosine — ONE shuffle on the cell key; the
       hot path is the per-cell GEMM kernel
       (similarity.intra_group_pairs_kernel), the declarative self-join
       stays as its equivalence-tested reference;
    3. a row is a duplicate iff some LOWER-id row in its cell reaches
       ``round(cos, 6) >= threshold`` — min-id per duplicate group
       survives (the deterministic variant of SemDeDup's keep-one rule;
       the paper keeps the member farthest from the centroid, which is
       tie-ambiguous across engines).

    Returns the cell-assigned frame annotated with boolean ``keep``.

    100 TB contract: the quantizer K scales with the corpus so cells
    stay ~10^3 rows (SemDeDup itself trains k ~ 5*10^4 clusters for
    LAION-scale); intra-cell pair cost Σ m_c² ≈ n²/K is then linear in
    n at fixed cell size. Pathologically hot cells (a viral template)
    are bounded upstream by re-training K or per-group caps; pairs
    never cross cells, so nothing is quadratic in the corpus.
    """
    from pyspark import StorageLevel

    from .ann import assign_ivf_cells
    from .similarity import intra_group_pairs_kernel

    # result-lifetime cache: the assignment feeds both the pair stage
    # and the final annotation join (without it the argmin pass runs
    # twice); freed by the session-wide release_caches. At lake scale
    # this is the materialized cell-partitioned table (the IVF layout).
    assigned = assign_ivf_cells(
        df.select("vec_id", "embedding"), centroids
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # conservative in-kernel cut (see intra_group_pairs_kernel): avoids
    # materializing m²/2 Arrow rows per dense cell; the exact rounded
    # comparison below remains the decision
    pairs = intra_group_pairs_kernel(
        assigned, "cell", "vec_id", "embedding", min_sim=threshold - 1e-6
    )
    dup_ids = (
        pairs.where(F.round("sim", 6) >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assigned.join(dup_ids, "vec_id", "left")
        .withColumn("keep", F.col("__dup").isNull())
        .drop("__dup")
    )


# --- exact-threshold set-similarity join (AllPairs / PPJoin prefix filter) -----

def jaccard_similarity_join(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact-threshold n-gram Jaccard self-join via prefix filtering.

    Unlike the MinHash/SimHash paths (probabilistic candidates), this is
    the EXACT set-similarity join: every pair with word-3-gram
    Jaccard >= ``threshold`` is returned, no false negatives — the
    AllPairs / PPJoin prefix-filtering scheme (Bayardo WWW'07, Xiao
    WWW'08; the same candidate family as the reference's threshold-based
    similarity audits, chunk_similarities.ipynb:447 c21).

    Stages (each a key-partitioned shuffle, no all-pairs anywhere):

    1. distinct shingle-hash rows per doc (map-side explode, shared with
       decontamination).
    2. global document frequency per shingle — rarest-first total order
       ``(df, g)``; no dense rank materialization, the struct itself
       sorts.
    3. per doc: sort tokens rarest-first, keep the probing prefix
       ``|d| - ceil(t*|d|) + 1`` — any partner with Jaccard >= t must
       share a prefix token (prefix-filtering principle).
    4. candidates: self-equi-join of prefix rows on the shingle hash with
       the length filter ``t*|a| <= |b| <= |a|/t``. Prefix tokens are the
       RAREST tokens by construction, so candidate lists per key are
       naturally skew-bounded (plus AQE skew-join).
    5. verification: exact |A∩B| / |A∪B| on the full hash sets, joined
       only for the (small) candidate id set.

    Returns (id_a, id_b, jaccard) for verified pairs, jaccard rounded to
    6 dp. At 100 TB this runs as: one explode, one df-count shuffle, one
    g-join, one per-doc agg, one prefix self-join, two bounded verify
    joins — all hash-partitioned on data keys.

    DIVERSITY CONTRACT: prefix filtering is effective exactly when the
    token-frequency distribution has a rare tail — candidate volume is
    O(Σ_g df(g)²) over prefix tokens, which natural (Zipfian) corpora
    keep near-linear but LOW-DIVERSITY corpora do not (a 30-word
    synthetic vocabulary at 200k docs spilled ~10⁸ candidates in the
    r4 scale probe). On such corpora longer shingles (the shingle space
    grows as vocab^n, restoring rarity) or a higher threshold (shorter
    prefixes) help; dropping high-df tokens from prefixes is NOT an option —
    it would break the no-false-negative guarantee.
    """
    toks = shingle_hash_rows(df)
    from pyspark import StorageLevel

    # Cache lifecycle (r12 restructure — guide §5 caching rule applied
    # INSIDE the query, VERDICT r11 item 1): toks is STAGE-scoped (both
    # consumers — dfreq and the dfreq join — sit inside the per_doc
    # aggregation), per_doc is the single source the prefix explode AND
    # the verification sets project from, so the old second
    # collect_list pass over toks (one full shuffle + sort-per-doc) and
    # its eager materialization job are gone: per_doc.__ts already IS
    # each doc's complete distinct-shingle set (shingle_hash_rows
    # emits per-doc np.unique hashes, and the dfreq join is lossless),
    # so the verify sets are array_sort(transform(__ts, g)) — a
    # projection of the cache, not a re-aggregation. cand/sets must
    # outlive the call (the returned result is lazy and reads both);
    # the session-wide release_caches frees them once the result is
    # consumed. At lake scale the persisted frames
    # are materialized tables, not caches.
    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)

    dfreq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        toks.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "g"))).alias("__ts"))
        .withColumn("__n", F.size("__ts"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_doc.count()  # materialize: last consumer of toks
    toks.unpersist()
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + F.lit(1)
    ).cast("int")
    # both sides of the prefix self-join read this projection of the
    # per_doc cache (no second aggregation — the cache is the reuse)
    pref = per_doc.select(
        F.col("doc_id"),
        F.col("__n"),
        F.explode(
            F.transform(
                F.slice("__ts", F.lit(1), prefix_len), lambda s: s["g"]
            )
        ).alias("g"),
    )
    a = pref.select(F.col("doc_id").alias("id_a"), F.col("__n").alias("__na"), "g")
    b = pref.select(F.col("doc_id").alias("id_b"), F.col("__n").alias("__nb"), "g")
    cand = (
        a.join(b, "g")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") * F.lit(threshold) <= F.col("__na"))
            & (F.col("__na") * F.lit(threshold) <= F.col("__nb"))
        )
        .select("id_a", "id_b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # verification sets: a projection of per_doc (sorted-by-(df,g)
    # struct array -> numerically sorted hash array — identical to the
    # old sort_array(collect_list(g)) because each (doc, g) is distinct)
    sets = (
        per_doc.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select(
            F.col("doc_id"),
            F.array_sort(
                F.transform(F.col("__ts"), lambda s: s["g"])
            ).alias("__s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("__s").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size(F.array_union("__sa", "__sb")).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def winnow_anchor_rows(d: DataFrame, n: int = 20, w: int = 8) -> DataFrame:
    """Winnow-selected anchor grams WITH POSITIONS, one row per selected
    (doc, pos): ``(id_col, pos (1-based into lower(trim(text))), gram)``.
    Map-side Arrow kernel (functions/text.py:winnow_positions_np) —
    ~1/w of the char n-grams; any cross-doc shared span of length
    >= n + w - 1 is guaranteed to contribute an identical (gram) value
    on both sides. The input rows for exact-span duplicate detection."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, poss, grams = [], [], []
            for doc_id, text in zip(pdf["doc_id"].tolist(), pdf["text"]):
                t = (text or "").strip(" ").lower()
                for p in TX.winnow_positions_np(t, n, w):
                    ids.append(doc_id)
                    poss.append(int(p))
                    grams.append(t[p - 1 : p - 1 + n])
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "gram": grams})

    id_type = dict(d.dtypes)["doc_id"]
    # spread before the winnow kernel (single-row-group scans are
    # unsplittable — guide §2.5; no-op at lake scale / post-shuffle)
    return spread_scan(d.select("doc_id", "text"), "doc_id").mapInPandas(
        batches, schema=f"`doc_id` {id_type}, pos long, gram string"
    )


def dup_span_coverage_frame(d: DataFrame, n: int = 20, w: int = 8) -> DataFrame:
    """Per-document exact-substring duplication coverage (the ExactSubstr
    statistic, Lee et al. '21) without a suffix array and without ever
    materializing a document pair:

    anchors (map-side winnow kernel) → ONE combinable groupBy on the
    anchor TEXT (exact equality — not a hash) counting distinct docs →
    equi-join matched anchors back (co-partitioned with the groupBy) →
    per-doc integer interval merge with a single lag window. Cost is
    O(selected anchors) end to end; a hot boilerplate anchor costs
    bandwidth on its own rows only (no cross product).

    Returns ``(id_col, n_selected, n_matched, covered_chars, len_t,
    dup_span_fraction)`` — all integers except the derived unrounded
    fraction.

    The anchor frame ``sel`` has THREE consumers (shared-anchor groupBy,
    the matched join-back, and the per-doc selected count) — it is
    persisted so the winnow Arrow kernel runs ONCE per document, not 3×
    (SCALING.md's prescribed fix)."""
    sel = winnow_anchor_rows(d, n, w).persist()
    shared = (
        sel.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    matched = sel.join(shared.select("gram"), "gram").select(
        "doc_id", "pos", (F.col("pos") + F.length("gram")).alias("endp")
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "endp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    percov = (
        matched.withColumn("prev_end", F.max("endp").over(wprev))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(
                F.greatest(
                    F.lit(0),
                    F.col("endp")
                    - F.greatest(
                        F.col("pos"),
                        F.coalesce(F.col("prev_end"), F.col("pos")),
                    ),
                )
            ).alias("covered_chars"),
        )
    )
    nsel = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_selected"))
    base = d.select("doc_id", F.length(F.trim(F.col("text"))).alias("len_t"))
    cov = F.coalesce(F.col("covered_chars"), F.lit(0).cast("long"))
    return (
        base.join(nsel, "doc_id")
        .join(percov, "doc_id", "left")
        .select(
            "doc_id",
            "n_selected",
            F.coalesce(F.col("n_matched"), F.lit(0).cast("long")).alias(
                "n_matched"
            ),
            cov.alias("covered_chars"),
            "len_t",
            F.when(F.col("len_t") > 0, cov / F.col("len_t"))
            .otherwise(F.lit(0.0))
            .alias("dup_span_fraction"),
        )
    )


def keep_best_duplicate_groups(pairs: DataFrame, quality: DataFrame) -> DataFrame:
    """Quality-aware survivor selection over a verified duplicate-pair
    graph — the production refinement of canonical_duplicate_groups:
    real pipelines keep the BEST copy per duplicate cluster (longest /
    highest-quality), not the lowest id. Connected components label the
    groups (same contraction-first machinery), one join attaches each
    member's quality, and a per-group row_number window (quality DESC,
    id ASC — fully deterministic tie-break) elects the survivor.

    Returns (group_id, group_size, kept_doc_id, kept_quality,
    discarded_quality) per group of >= 2 documents, where group_id is
    the component label (min member id), kept_* describe the elected
    survivor, and discarded_quality sums the quality of the members a
    dedup pass would drop. All-integer exports when ``quality`` is
    integral — tie-free for the oracle hash.

    Scale: the window partitions by component over GROUP MEMBERS only
    (the corpus never enters), and duplicate groups are small by
    construction, so the window shuffle is bounded by the verified-pair
    node count — the same order as the component labeling itself."""
    from .graph import connected_components

    comps = connected_components(pairs, src="id_a", dst="id_b", id_col="doc_id")
    member = comps.join(
        quality.select(F.col("doc_id"), F.col("q").alias("__q")),
        "doc_id",
    )
    w = Window.partitionBy("component").orderBy(F.desc("__q"), "doc_id")
    ranked = member.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("component").alias("group_id"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.max(F.when(F.col("__rk") == 1, F.col("doc_id"))).alias(
                "kept_doc_id"
            ),
            F.max(F.when(F.col("__rk") == 1, F.col("__q"))).alias(
                "kept_quality"
            ),
            F.sum(
                F.when(F.col("__rk") > 1, F.col("__q")).otherwise(F.lit(0))
            ).alias("discarded_quality"),
        )
        .where(F.col("group_size") >= 2)
    )
