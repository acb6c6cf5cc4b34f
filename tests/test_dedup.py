"""Dedup suite: planted duplicates must be found; estimators sane."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import ann, dedup
from vector_search_optimization_spark.session import release_caches

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the woods "
    "while the hunter watches quietly from behind an old oak tree near the river"
)
NEAR = BASE.replace("quietly", "silently")  # one-word edit → high jaccard
FAR = "completely different content about spark query engines and shuffle costs"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, "  " + BASE.upper() + " "), # canonical-form dup of 0
        (3, NEAR),                      # near dup of 0
        (4, FAR),
        (5, "unrelated tiny text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_dedup_exact_keeps_min_id(docs):
    kept = {r.doc_id for r in dedup.dedup_exact(docs).collect()}
    assert kept == {0, 3, 4, 5}


def test_minhash_finds_near_dup(docs):
    pairs = dedup.minhash_near_duplicates(
        docs, num_hashes=128, num_bands=32, jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found          # identical docs
    assert (0, 3) in found or (1, 3) in found  # near dup
    assert all({a, b} & {4, 5} == set() or a == b for a, b in found)


def test_minhash_estimate_close_to_true_jaccard(docs, spark):
    sigs = dedup.minhash_signatures(docs, num_hashes=256)
    pdf = sigs.toPandas().set_index("doc_id")
    est = sum(
        x == y for x, y in zip(pdf.loc[0, "signature"], pdf.loc[3, "signature"])
    ) / 256
    a = set(zip(BASE.split(), BASE.split()[1:], BASE.split()[2:]))
    b = set(zip(NEAR.split(), NEAR.split()[1:], NEAR.split()[2:]))
    true_j = len(a & b) / len(a | b)
    assert est == pytest.approx(true_j, abs=0.15)


def test_simhash_identical_and_near(docs):
    pairs = dedup.simhash_near_duplicates(docs, max_hamming=10).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((0, 1)) == 0          # identical text → identical simhash
    assert (0, 3) in found                  # near dup inside the hamming ball


def test_minhash_expression_and_kernel_poly_identical(docs):
    """The poly shingle hash makes the Catalyst expression path and the
    Arrow kernel bit-identical (and both equal to the DuckDB oracle family)."""
    expr = {
        r.doc_id: list(r.signature)
        for r in dedup.minhash_signatures(docs, num_hashes=16).collect()
    }
    kern = {
        r.doc_id: list(r.signature)
        for r in dedup.minhash_signatures_kernel(docs, num_hashes=16).collect()
    }
    assert expr == kern


def test_simhash_expression_and_kernel_poly_identical(docs):
    expr = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    kern = {r.doc_id: r.simhash for r in dedup.simhash_kernel(docs).collect()}
    assert expr == kern
    # poly mode packs two 31-bit hashes: bits 62/63 are always clear
    assert all(v >= 0 and v < (1 << 62) for v in expr.values())


def test_ngram_jaccard_verification(docs, spark):
    cands = spark.createDataFrame(
        [(0, 1), (0, 3), (0, 4)], "id_a long, id_b long"
    )
    rows = dedup.ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert j[(0, 1)] == pytest.approx(1.0)
    assert j[(0, 3)] > 0.8
    assert j[(0, 4)] < 0.2


def test_canonical_groups_merge_transitive_chain(spark):
    """A~B and B~C without A~C must land in ONE group keyed by the min id,
    and disjoint pairs stay separate groups."""
    pairs = spark.createDataFrame(
        [(3, 9), (9, 17), (40, 41)], "id_a long, id_b long"
    )
    got = {
        (r.canonical_id, r.group_size)
        for r in dedup.canonical_duplicate_groups(pairs).collect()
    }
    assert got == {(3, 3), (40, 2)}


def test_connected_components_isolated_nodes_and_min_label(spark):
    from vector_search_optimization_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([(5, 2), (2, 8)], "src long, dst long")
    nodes = spark.createDataFrame([(2,), (5,), (8,), (99,)], "pid long")
    comp = {
        r.pid: r.component
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert comp == {2: 2, 5: 2, 8: 2, 99: 99}


def test_connected_components_self_loop_singletons(spark):
    """A node whose only edge is a self-loop is a singleton component —
    on both the driver fast path and the iterative loop path, with or
    without a crossing edge elsewhere in the graph."""
    from vector_search_optimization_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (9, 9), (3, 3), (3, 4)], "src long, dst long"
    )
    want = {1: 1, 2: 1, 9: 9, 3: 3, 4: 3}
    for limit in (2_000_000, 0):  # driver path, then forced loop path
        got = {
            r.pid: r.component
            for r in connected_components(
                edges, driver_edge_limit=limit
            ).collect()
        }
        assert got == want, f"driver_edge_limit={limit}"


def test_connected_components_loop_path_matches_driver_path(spark):
    """driver_edge_limit=0 forces the iterative min-label loop; it must
    produce the identical labeling the small-forest driver union-find
    gives on a graph with chains, a cycle, disjoint parts, and isolates."""
    from vector_search_optimization_spark.operators.graph import (
        connected_components,
    )

    raw = [(i, i + 1) for i in range(0, 20)]          # chain 0..20
    raw += [(30, 31), (31, 32), (32, 30)]             # cycle
    raw += [(50, 40), (41, 50)]                       # out-of-order merge
    edges = spark.createDataFrame(raw, "src long, dst long")
    nodes = spark.createDataFrame([(n,) for n in range(0, 60)], "pid long")

    want = {
        r.pid: r.component
        for r in connected_components(edges, nodes=nodes).collect()
    }
    got = {
        r.pid: r.component
        for r in connected_components(
            edges, nodes=nodes, driver_edge_limit=0
        ).collect()
    }
    assert got == want
    assert want[20] == 0 and want[32] == 30 and want[50] == 40
    assert want[59] == 59


def test_shingle_hash_rows_flags_planted_contamination(spark):
    """A train doc copying a benchmark doc's text must share every
    fingerprint; an unrelated doc must share none."""
    from vector_search_optimization_spark.operators.dedup import shingle_hash_rows

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, bench_text),                      # benchmark (0 % 97 == 0)
        (1, "completely different words entirely unrelated content here"),
        (2, "prefix words then " + bench_text + " then suffix words"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    g = shingle_hash_rows(d)
    import pyspark.sql.functions as SF

    bench = g.where(SF.col("doc_id") == 0).select("g").distinct()
    hits = {
        r.doc_id
        for r in g.where(SF.col("doc_id") != 0)
        .join(SF.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert hits == {2}


def test_poly_hash_shingles_np_matches_scalar_twin():
    """The vectorized window hasher must be bit-identical to poly_hash_py
    over every word shingle, including the <n-tokens join, non-ASCII
    codepoints, and the row-chunked long-document path."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vector_search_optimization_spark.functions import text as TX

    tok = st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Zs", "Cc", "Cs")
        ),
        min_size=0,
        max_size=8,
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(tok, max_size=24), st.integers(1, 5), st.sampled_from(
        [TX.POLY_BASE, TX.POLY_BASE2]
    ))
    def check(toks, n, base):
        got = TX.poly_hash_shingles_np(toks, n, base).tolist()
        if len(toks) < n:
            want = [TX.poly_hash_py(" ".join(toks), base)]
        else:
            want = [
                TX.poly_hash_py(" ".join(toks[i : i + n]), base)
                for i in range(len(toks) - n + 1)
            ]
        assert got == want

    check()

    # chunked path: force several sub-4096 row chunks and a wide window
    toks = [str(i) for i in range(5000)] + ["x" * 3000]
    got = TX.poly_hash_shingles_np(toks, 3).tolist()
    want = [
        TX.poly_hash_py(" ".join(toks[i : i + 3])) for i in range(len(toks) - 2)
    ]
    assert got == want


def test_char_gram_hashes_np_matches_scalar_twin():
    """The vectorized char n-gram window hasher must be bit-identical to
    poly_hash_py over every positional gram, incl. the <n whole-string
    fallback and non-ASCII codepoints."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vector_search_optimization_spark.functions import text as TX

    txt = st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        min_size=0,
        max_size=60,
    )

    @settings(max_examples=200, deadline=None)
    @given(txt, st.integers(1, 7))
    def check(s, n):
        got = TX.char_gram_hashes_np(s, n).tolist()
        if len(s) < n:
            want = [TX.poly_hash_py(s)]
        else:
            want = [TX.poly_hash_py(s[i : i + n]) for i in range(len(s) - n + 1)]
        assert got == want

    check()


# --- exact-threshold jaccard similarity join (prefix filter) -----------------

def _brute_jaccard_pairs(docs_rows, shingle_n, threshold):
    """Driver-side brute force over the same word-shingle hash sets."""
    from vector_search_optimization_spark.functions import text as TX
    import numpy as np

    sets = {}
    for i, text in docs_rows:
        # the canonical python twin of the engine's ASCII-\s tokenizer;
        # bare str.split() would also split on unicode spaces (NBSP,
        # U+2028) and silently diverge on non-ASCII corpora
        toks = TX.word_tokens_py(text)
        sets[i] = set(
            np.unique(TX.poly_hash_shingles_np(toks, shingle_n)).tolist()
        )
    ids = sorted(sets)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            j = len(a & b) / len(a | b)
            if round(j, 6) >= threshold:
                out[(ids[x], ids[y])] = round(j, 6)
    return out


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_jaccard_similarity_join_matches_brute_force(docs, spark, threshold):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_similarity_join(docs, threshold=threshold).collect()
    }
    want = _brute_jaccard_pairs(
        [(r.doc_id, r.text) for r in docs.collect()], 3, threshold
    )
    assert got == want  # completeness AND precision, values included


def test_jaccard_similarity_join_no_false_negatives_randomized(spark):
    """Prefix filtering must be complete on a messier corpus: shared
    boilerplate + random tails at mixed lengths."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        base = ["the", "data", "pipeline", "runs", "nightly"] * (
            1 + i % 3
        )
        tail = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(0, 25))]
        rows.append((i, " ".join(base + tail)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_similarity_join(df, threshold=0.6).collect()
    }
    want = set(_brute_jaccard_pairs(rows, 3, 0.6))
    assert got == want


def test_semantic_dedup_planted_duplicates_min_id_survives(spark):
    """SemDeDup composition: exact duplicates land in the same cell and
    every copy except the minimum id is removed; unrelated vectors
    survive. (The kernel pair path is pinned against the declarative
    self-join in test_kernel_equivalence.)"""
    import numpy as np

    from vector_search_optimization_spark.operators import ann

    rng = np.random.RandomState(0)
    base = rng.normal(size=(30, 8)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    # plant: ids 100+101 duplicate id 5; id 200 duplicates id 7
    rows += [
        (100, rows[5][1]),
        (101, rows[5][1]),
        (200, rows[7][1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ann.train_ivf_centroids(df.orderBy("vec_id"), num_cells=4, seed=1)
    flagged = dedup.semantic_dedup(df, cents, threshold=0.99)
    removed = {r.vec_id for r in flagged.where(~F.col("keep")).collect()}
    assert removed == {100, 101, 200}, removed


def test_bloom_decontamination_matches_exact_path(spark, sf_small):
    """The Bloom-prefiltered decontamination must flag EXACTLY the ids
    the broadcast-set path flags (no false negatives by Bloom
    construction, false positives removed by the exact verify join) —
    including at an aggressively small bitmap where the FPR is high."""
    from vector_search_optimization_spark.sources import load_table

    d = load_table(spark, sf_small, "documents").select("doc_id", "lang", "text")
    is_bench = F.col("doc_id") % 7 == 0

    grams = dedup.shingle_hash_rows(d)
    bench_g = grams.where(is_bench).select("g").distinct()
    exact = {
        r.doc_id
        for r in grams.where(~is_bench)
        .join(F.broadcast(bench_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    for n_bits in (1 << 20, 1 << 12):  # 2^12 → high FPR, verify must fix
        got = {
            r.doc_id
            for r in dedup.decontaminate_with_bloom(
                d, is_bench, n_bits=n_bits
            ).collect()
        }
        assert got == exact, n_bits
    assert exact  # the synthetic corpus must actually overlap


def test_bloom_bitmap_build_and_probe_units(spark):
    """Bitmap build is deterministic and the probe has no false
    negatives on the inserted set."""
    import numpy as np

    df = spark.range(0, 1000).select(
        (F.col("id") * 2654435761 % 982451653).alias("g")
    )
    bm1 = dedup.build_bloom_bitmap(df, n_bits=1 << 16)
    bm2 = dedup.build_bloom_bitmap(df.repartition(7), n_bits=1 << 16)
    assert np.array_equal(bm1, bm2)  # partitioning-invariant
    contains = dedup.bloom_contains_expr(spark, bm1, 1 << 16, 4)
    n_hit = df.where(contains(F.col("g"))).count()
    assert n_hit == 1000  # no false negatives


def test_incremental_probe_append_consistency(spark, sf_small):
    """Nightly-ingest shape over a PERSISTED bucketed band index:

    1. probing batch1 against the corpus index == computing the same
       candidates directly in memory (the index round-trip is lossless);
    2. after APPENDING batch1's band rows, probing batch2 finds exactly
       the direct batch2-vs-(corpus ∪ batch1) candidate set — tomorrow's
       probe sees today's ingest.
    """
    import shutil

    from vector_search_optimization_spark.sources import load_table

    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 5 > 1)
    batch1 = d.where(F.col("doc_id") % 5 == 0)
    batch2 = d.where(F.col("doc_id") % 5 == 1)

    def bands_of(df):
        return dedup.minhash_band_rows(
            dedup.minhash_signatures_kernel(df), num_hashes=64
        )

    def direct(batch, against):
        return {
            (r.id_a, r.id_b)
            for r in dedup.minhash_probe_corpus(batch, bands_of(against)).collect()
        }

    tbl = "bkt_band_index"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"spark-warehouse/{tbl}", ignore_errors=True)
        bands_of(corpus).write.format("parquet").mode("overwrite").bucketBy(
            8, "bucket"
        ).sortBy("bucket").saveAsTable(tbl)
        got1 = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_probe_corpus(
                batch1, spark.table(tbl)
            ).collect()
        }
        assert got1 == direct(batch1, corpus)
        assert got1  # the synthetic corpus must actually produce candidates

        # nightly append: batch1's band rows enter the index
        bands_of(batch1).write.format("parquet").mode("append").bucketBy(
            8, "bucket"
        ).sortBy("bucket").saveAsTable(tbl)
        got2 = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_probe_corpus(
                batch2, spark.table(tbl)
            ).collect()
        }
        assert got2 == direct(batch2, corpus.unionByName(batch1))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"spark-warehouse/{tbl}", ignore_errors=True)


def test_jaccard_similarity_join_releases_caches(spark):
    """Cache lifecycle: toks unpersists inside the call; the three
    result-lifetime caches (cand, sets, per_doc — r12: per_doc replaced
    the old second collect_list pass and the pref persist) outlive it,
    and the session-wide release_caches() frees them. Input is UNIQUE to
    this test — CacheManager dedups identical logical plans, so a shared
    fixture would reuse entries another test already left."""
    uniq = spark.createDataFrame(
        [(1, "release me now " * 4), (2, "release me now " * 4 + "tail"),
         (3, "completely different words here")],
        "doc_id long, text string",
    )
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    release_caches(uniq)  # start from an empty session
    out = dedup.jaccard_similarity_join(uniq)
    out.collect()
    # exactly the three result-lifetime persists outlive the call
    assert rdds().size() == 3
    release_caches(out)
    assert rdds().size() == 0 and cache_manager.isEmpty()
    # idempotent
    release_caches(out)
    assert rdds().size() == 0 and cache_manager.isEmpty()


# --- cross-path tokenization + NULL contract ---------------------------------

def test_kernel_and_expression_signatures_agree_on_exotic_whitespace(spark):
    """NBSP / U+2028 / tabs must tokenize identically in the expression
    path (Java \\s+, ASCII), the Arrow kernels (word_tokens_py, ASCII
    re), and — by construction — the DuckDB oracles (RE2 \\s+). Python
    str.split() is unicode-aware and previously diverged the kernel."""
    rows = [
        (0, "alpha beta gamma delta"),        # NBSP inside a "word"
        (1, "alpha beta gamma delta"),        # line separator
        (2, "\tleading tab words here"),           # leading tab -> "" piece
        (3, "plain ascii words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        r.doc_id: r.signature
        for r in dedup.minhash_signatures(df, num_hashes=8).collect()
    }
    kern = {
        r.doc_id: r.signature
        for r in dedup.minhash_signatures_kernel(df, num_hashes=8).collect()
    }
    assert expr == kern
    sim_e = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    sim_k = {r.doc_id: r.simhash for r in dedup.simhash_kernel(df).collect()}
    assert sim_e == sim_k


def test_null_text_rows_are_dropped_by_all_signature_producers(spark):
    df = spark.createDataFrame(
        [(0, "real text here"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    assert {r.doc_id for r in dedup.minhash_signatures(df).collect()} == {0, 2}
    assert {
        r.doc_id for r in dedup.minhash_signatures_kernel(df).collect()
    } == {0, 2}
    assert {r.doc_id for r in dedup.simhash_kernel(df).collect()} == {0, 2}
    assert {
        r.doc_id for r in dedup.shingle_hash_rows(df).select("doc_id").distinct().collect()
    } == {0, 2}


def test_lsh_band_validation_rejects_degenerate_configs(spark):
    sigs = dedup.minhash_signatures(
        spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string"),
        num_hashes=8,
    )
    with pytest.raises(ValueError):
        dedup.minhash_lsh_candidates(sigs, num_bands=100, num_hashes=8)
    with pytest.raises(ValueError):
        dedup.minhash_lsh_candidates(sigs, num_bands=3, num_hashes=8)


def test_tune_lsh_bands_matches_scurve_intuition():
    """More bands (shorter rows) -> catches lower-similarity pairs; the
    tuned banding's S-curve midpoint (1/b)^(1/r) must track the target
    threshold, and the banding must always divide the signature."""
    from vector_search_optimization_spark.operators.dedup import (
        lsh_collision_probability,
        tune_lsh_bands,
    )

    prev_bands = None
    for t in (0.2, 0.5, 0.8):
        b, r = tune_lsh_bands(64, t)
        assert b * r == 64
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.2  # S-curve centered near the threshold
        if prev_bands is not None:
            assert b <= prev_bands  # higher threshold -> fewer bands
        prev_bands = b
        # the curve actually separates: well below t ~ rarely candidate,
        # well above t ~ almost always candidate
        assert lsh_collision_probability(max(t - 0.15, 0.01), b, r) < \
            lsh_collision_probability(min(t + 0.15, 0.99), b, r)
    assert lsh_collision_probability(0.95, 16, 4) > 0.99
    with pytest.raises(ValueError):
        tune_lsh_bands(64, 1.5)
