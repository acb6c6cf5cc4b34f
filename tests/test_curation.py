"""Curation operators: PII redaction, unigram LM scoring, sampling."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import redact as RD
from vector_search_optimization_spark.operators import lm_quality as LM
from vector_search_optimization_spark.operators import sampling as SAMP


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pii_df(spark):
    rows = [
        (0, "mail me at jane.doe+spam@sub.example.co.uk today"),
        (1, "server at 192.168.0.1 and 10.0.255.3 replied"),
        (2, "call +1-555-0123 or +44-202-7946"),
        (3, "see https://example.org/a?b=c#frag and http://t.co/x"),
        (4, "clean text with no pii at all"),
        (5, "combo a@b.io via https://h.example.com/u?e=a@b.io +1-555-9999"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "id long, text string").cache()


def test_pii_counts(pii_df):
    counts = RD.pii_counts("text")
    got = {
        r.id: (r.n_email, r.n_url, r.n_ip, r.n_phone)
        for r in pii_df.select("id", *[v.alias(k) for k, v in counts.items()]).collect()
    }
    assert got[0] == (1, 0, 0, 0)
    assert got[1] == (0, 0, 2, 0)
    assert got[2] == (0, 0, 0, 2)
    assert got[3] == (0, 2, 0, 0)
    assert got[4] == (0, 0, 0, 0)
    # counts measure the RAW text: the URL's query-string email ALSO
    # counts (2 emails), even though redaction lets the URL consume it
    assert got[5] == (2, 1, 0, 1)
    assert got[6] == (0, 0, 0, 0)


def test_redact_order_url_consumes_inner_email(pii_df):
    got = {r.id: r.red for r in pii_df.select("id", RD.redact_pii("text").alias("red")).collect()}
    assert got[0] == "mail me at <EMAIL> today"
    assert got[1] == "server at <IP> and <IP> replied"
    assert got[2] == "call <PHONE> or <PHONE>"
    assert got[3] == "see <URL> and <URL>"
    assert got[4] == "clean text with no pii at all"
    # the URL eats its embedded email (application-order contract);
    # the standalone email still redacts
    assert got[5] == "combo <EMAIL> via <URL> <PHONE>"


def test_redact_no_pii_is_identity(pii_df):
    changed = pii_df.where(RD.redact_pii("text") != F.col("text")).where(F.col("id").isin(4, 6))
    assert changed.count() == 0


# ---------------------------------------------------------------------------
# unigram LM
# ---------------------------------------------------------------------------

def test_unigram_surprisal_hand_computed(spark):
    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    vocab = LM.train_unigram_lm(docs)
    got = {r.word: r.cnt for r in vocab.collect()}
    assert got == {"a": 3, "b": 1, "c": 1}
    # N=5, V=3: p(a)=(3+1)/8, p(b)=p(c)=(1+1)/8
    out = {r.doc_id: r for r in LM.unigram_surprisal(docs, vocab).collect()}
    pa, pb = 4 / 8, 2 / 8
    assert out[0].n_tokens == 3
    assert out[0].avg_surprisal == pytest.approx(-(2 * math.log(pa) + math.log(pb)) / 3)
    assert out[1].avg_surprisal == pytest.approx(-(math.log(pa) + math.log(pb)) / 2)


def test_unigram_oov_smooths_finite(spark):
    train = spark.createDataFrame([(0, "a a")], "doc_id long, text string")
    score = spark.createDataFrame([(1, "zzz")], "doc_id long, text string")
    vocab = LM.train_unigram_lm(train)
    row = LM.unigram_surprisal(score, vocab).collect()[0]
    # OOV: cnt=0 → -ln(1/(N+V)) = ln(3), finite
    assert row.avg_surprisal == pytest.approx(math.log(3.0))


def test_unigram_vocab_top_k_truncates(spark):
    docs = spark.createDataFrame([(0, "a a a b b c")], "doc_id long, text string")
    vocab = LM.train_unigram_lm(docs)
    row = LM.unigram_surprisal(docs, vocab, vocab_top_k=1).collect()[0]
    # model = {a:3} only → N=3, V=1; b/c are OOV
    expect = -(3 * math.log(4 / 4) + 3 * math.log(1 / 4)) / 6
    assert row.avg_surprisal == pytest.approx(expect)


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def _sha(k: int) -> str:
    return hashlib.sha256(str(k).encode()).hexdigest()


def test_stratified_sample_matches_reference_order(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, g string")
    got = SAMP.stratified_sample_fixed_n(df, "g", "id", 5).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r.g, []).append((r.rank, r.id))
    for g in ("g0", "g1", "g2"):
        members = sorted((i for i in range(60) if i % 3 == int(g[1])), key=lambda i: (_sha(i), i))
        assert sorted(by_g[g]) == [(k + 1, members[k]) for k in range(5)]


def test_stratified_sample_small_stratum_returns_all(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, g string")
    got = SAMP.stratified_sample_fixed_n(df, "g", "id", 10)
    assert got.count() == 3


def test_fraction_sample_deterministic_and_partition_invariant(spark):
    df = spark.createDataFrame([(i,) for i in range(400)], "id long")
    a = {r.id for r in SAMP.deterministic_sample(df, "id", 0.25).collect()}
    b = {r.id for r in SAMP.deterministic_sample(df.repartition(7), "id", 0.25).collect()}
    assert a == b
    expect = {i for i in range(400) if _sha(i)[:4] < format(int(0.25 * 65536), "04x")}
    assert a == expect
    # roughly a quarter
    assert 0.15 < len(a) / 400 < 0.35


# ---------------------------------------------------------------------------
# skew-salted aggregation
# ---------------------------------------------------------------------------

def test_salted_agg_equals_plain_agg(spark):
    from vector_search_optimization_spark.operators import skew as SK

    rows = [(i, "hot" if i % 10 else "cold", float(i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    got = {
        r.k: (r.n, r.sum_value, r.min_value, r.max_value)
        for r in SK.salted_agg(df, "k", salt_key="id", salts=8, value_col="v").collect()
    }
    plain = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(plain)
    for k in got:
        assert got[k][0] == plain[k][0]
        assert got[k][1] == pytest.approx(plain[k][1])
        assert got[k][2] == plain[k][2] and got[k][3] == plain[k][3]


def test_salted_agg_count_only(spark):
    from vector_search_optimization_spark.operators import skew as SK

    df = spark.createDataFrame([(i, "a") for i in range(40)], "id long, k string")
    assert SK.salted_agg(df, "k", salt_key="id", salts=4).collect()[0].n == 40


def test_salt_column_deterministic_and_bounded(spark):
    from vector_search_optimization_spark.operators import skew as SK

    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    a = df.select("id", SK.salt_column("id", 16).alias("s")).collect()
    b = df.repartition(9).select("id", SK.salt_column("id", 16).alias("s")).collect()
    assert {r.id: r.s for r in a} == {r.id: r.s for r in b}
    assert all(0 <= r.s < 16 for r in a)


# ---------------------------------------------------------------------------
# tf-idf keywords
# ---------------------------------------------------------------------------

def test_tfidf_keywords_hand_computed(spark):
    from vector_search_optimization_spark.operators import retrieval as RT

    docs = spark.createDataFrame(
        [
            (0, "apple apple banana shared"),
            (1, "cherry shared shared"),
            (2, "banana cherry shared"),
        ],
        "doc_id long, text string",
    )
    got = {}
    for r in RT.tfidf_keywords(docs, n_keywords=2).collect():
        got.setdefault(r.doc_id, []).append((r.rk, r.word))
    # doc 0: apple tf=2 df=1 → 2·ln3 best; banana tf=1 df=2 → ln1.5
    assert sorted(got[0]) == [(1, "apple"), (2, "banana")]
    # doc 1: cherry ln(3/2) beats shared (df=3 → idf 0)
    assert sorted(got[1])[0] == (1, "cherry")
    # shared appears in all docs → idf 0 → never rank 1
    assert all(w != "shared" for rk, w in [sorted(g)[0] for g in got.values()])


def test_tfidf_null_text_excluded(spark):
    from vector_search_optimization_spark.operators import retrieval as RT

    docs = spark.createDataFrame(
        [(0, "x y"), (1, None)], "doc_id long, text string"
    )
    out = RT.tfidf_keywords(docs, n_keywords=5).collect()
    assert {r.doc_id for r in out} == {0}


# ---------------------------------------------------------------------------
# M11 spectral-embedding fallback (operators.reduction)
# ---------------------------------------------------------------------------

def test_spectral_embedding_separates_two_blobs():
    import numpy as np

    from vector_search_optimization_spark.operators.reduction import (
        spectral_embedding_numpy,
    )

    rng = np.random.default_rng(7)
    a = rng.normal(0.0, 0.05, size=(30, 8))
    b = rng.normal(5.0, 0.05, size=(30, 8)) * np.array([1] + [0] * 7)
    X = np.vstack([a, b + rng.normal(0.0, 0.05, size=(30, 8))])
    emb = spectral_embedding_numpy(X, n_neighbors=10)
    assert emb.shape == (60, 2)
    # first non-trivial eigenvector splits the two components
    left, right = emb[:30, 0], emb[30:, 0]
    assert max(left.max(), right.max()) != min(left.min(), right.min())
    assert (left.mean() < right.mean()) or (left.mean() > right.mean())
    gap = abs(left.mean() - right.mean())
    spread = left.std() + right.std()
    assert gap > 3 * spread


def test_spectral_embedding_deterministic():
    import numpy as np

    from vector_search_optimization_spark.operators.reduction import (
        spectral_embedding_numpy,
    )

    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 5))
    e1 = spectral_embedding_numpy(X, 3, 8)
    e2 = spectral_embedding_numpy(X.copy(), 3, 8)
    assert np.array_equal(e1, e2)
    assert e1.shape == (40, 3)


def test_umap_project_falls_back_to_spectral(spark, sf_small):
    from vector_search_optimization_spark.operators import reduction as RED
    from vector_search_optimization_spark.sources import load_table

    e = load_table(spark, sf_small, "embeddings")
    out = RED.umap_project(e, max_rows=200)
    rows = out.collect()
    assert len(rows) == 200
    assert all(len(r.umap) == 2 for r in rows)
    # this container has no umap-learn → the spectral path must have run
    assert {r.method for r in rows} == {"spectral"}


def test_umap_project_strict_raise_without_fallback(spark, sf_small):
    from vector_search_optimization_spark.operators import reduction as RED
    from vector_search_optimization_spark.sources import load_table

    e = load_table(spark, sf_small, "embeddings")
    with pytest.raises(NotImplementedError):
        RED.umap_project(e, fallback=False)


def test_salted_shuffle_join_equals_plain_join(spark):
    from vector_search_optimization_spark.operators import skew as SK

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "k%d" % i, float(i)) for i in range(300)],
        "id long, k string, v double",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3), ("absent", 9)], "k string, dim int"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.id, r.k, r.v, r.dim)
            for r in SK.salted_shuffle_join(big, small, "k", salt_key="id", salts=4, how=how).collect()
        )
        want = sorted(
            (r.id, r.k, r.v, r.dim) for r in big.join(small, "k", how).collect()
        )
        assert got == want and len(got) > 0


def test_salted_shuffle_join_rejects_outer(spark):
    from vector_search_optimization_spark.operators import skew as SK

    df = spark.createDataFrame([(1, "a")], "id long, k string")
    with pytest.raises(ValueError):
        SK.salted_shuffle_join(df, df, "k", salt_key="id", how="full")


# ---------------------------------------------------------------------------
# empty-input robustness (empty partitions/tables are routine at scale)
# ---------------------------------------------------------------------------

def test_new_operators_survive_empty_input(spark):
    from vector_search_optimization_spark.operators import retrieval as RT
    from vector_search_optimization_spark.operators import skew as SK

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert docs.select(RD.redact_pii("text")).count() == 0
    vocab = LM.train_unigram_lm(docs)
    assert vocab.count() == 0
    assert LM.unigram_surprisal(docs, vocab).count() == 0
    assert RT.tfidf_keywords(docs).count() == 0
    assert SAMP.deterministic_sample(docs, "doc_id", 0.5).count() == 0
    assert SAMP.stratified_sample_fixed_n(docs, "lang", "doc_id", 5).count() == 0
    ev = spark.createDataFrame([], "event_id long, k string, v double")
    assert SK.salted_agg(ev, "k", salt_key="event_id", value_col="v").count() == 0
    assert (
        SK.salted_shuffle_join(ev, ev.select("k").distinct(), "k", salt_key="event_id").count()
        == 0
    )


def test_spectral_embedding_degenerate_sizes():
    import numpy as np

    from vector_search_optimization_spark.operators.reduction import (
        spectral_embedding_numpy,
    )

    assert spectral_embedding_numpy(np.zeros((0, 4)), 2).shape == (0, 2)
    assert spectral_embedding_numpy(np.zeros((1, 4)), 2).shape == (1, 2)
    # n=3 with n_components=2: only 2 non-trivial eigenvectors exist
    out = spectral_embedding_numpy(np.eye(3), 2, n_neighbors=2)
    assert out.shape == (3, 2)


def test_weighted_sample_matches_reference_and_is_partition_invariant(spark):
    """A-ES keys replayed in python must pick the identical top-n, and
    the sample must be a pure function of the data (partitioning-
    independent). Heavier rows must be overrepresented."""
    rows = [(i, 10 if i < 300 else 1000) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = SAMP.weighted_sample_fixed_n(df, "id", "w", 50).collect()
    got_ids = [r.id for r in got]

    def es(i, w):
        u = int(_sha(i)[:13], 16) / 16**13
        return round(u ** (1.0 / w), 12)

    expect = sorted(rows, key=lambda t: (-es(*t), t[0]))[:50]
    assert got_ids == [i for i, _ in expect]
    again = SAMP.weighted_sample_fixed_n(df.repartition(7), "id", "w", 50)
    assert [r.id for r in again.collect()] == got_ids
    # 100 heavy rows (w=1000) vs 300 light (w=10): heavy rows dominate
    n_heavy = sum(1 for i in got_ids if i >= 300)
    assert n_heavy > 35


def test_weighted_sample_drops_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, None), (5, 2)], "id long, w int"
    )
    got = {r.id for r in SAMP.weighted_sample_fixed_n(df, "id", "w", 10).collect()}
    assert got == {1, 5}


def test_strip_boilerplate_lines_semantics(spark):
    """Trim-form matching, raw-byte order-preserving rebuild, structure
    (empty-trim) lines always kept, min_doc_freq boundary inclusive."""
    from vector_search_optimization_spark.operators.curation import (
        strip_boilerplate_lines,
    )

    rows = [
        (1, "body one\n  FOOTER  \n\nlast line"),
        (2, "body two\nFOOTER"),
        (3, "\tFOOTER\t\nbody three"),
        (4, "solo body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in strip_boilerplate_lines(df, min_doc_freq=3).collect()
    }
    # FOOTER appears (under trim) in docs 1-3 -> stripped everywhere,
    # regardless of raw padding; the blank structure line in doc 1 stays
    assert out[1].clean_text == "body one\n\nlast line"
    assert (out[1].n_lines_before, out[1].n_lines_removed) == (4, 1)
    assert out[2].clean_text == "body two"
    assert out[3].clean_text == "body three"
    assert out[4].clean_text == "solo body"
    assert out[4].n_lines_removed == 0

    # below the frequency floor (df=2 < 3): nothing stripped
    out2 = {
        r.doc_id: r
        for r in strip_boilerplate_lines(
            df.where("doc_id <= 2"), min_doc_freq=3
        ).collect()
    }
    assert out2[1].n_lines_removed == 0
    assert out2[2].clean_text == rows[1][1]


def test_sample_by_rate_matches_literal_and_scales(spark):
    """sample_by_rate with a constant column == deterministic_sample
    with the same literal; per-group rates keep/drop independently and
    rate 1.0 keeps everything."""
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).alias("g")
    )
    lit_kept = {
        r.doc_id
        for r in SAMP.deterministic_sample(df, "doc_id", 0.25).collect()
    }
    col_kept = {
        r.doc_id
        for r in SAMP.sample_by_rate(
            df.withColumn("rate", F.lit(0.25)), "doc_id", "rate"
        ).collect()
    }
    assert col_kept == lit_kept
    mixed = SAMP.sample_by_rate(
        df.withColumn(
            "rate", F.when(F.col("g") == 0, F.lit(1.0)).otherwise(F.lit(0.25))
        ),
        "doc_id",
        "rate",
    )
    got = {r.doc_id for r in mixed.collect()}
    assert {d for d in got if d % 2 == 0} == {d for d in range(0, 2000, 2)}
    assert {d for d in got if d % 2 == 1} == {d for d in lit_kept if d % 2 == 1}
