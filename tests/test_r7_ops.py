"""r7 additions: Mann-Kendall trend, Benford audit, Heaps vocabulary
growth, interpolated bigram LM, split-leakage audit — unit semantics
beyond the automatic oracle-parity coverage, plus the overflow-raise
contract on the Gini UDAF (ADVICE r6 #2)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as m
from vector_search_optimization_spark.operators import lm_quality as LM
from vector_search_optimization_spark.operators import validation as DQV
from vector_search_optimization_spark.session import release_caches


# ---------------------------------------------------------------------------
# Mann-Kendall
# ---------------------------------------------------------------------------


def test_mann_kendall_hand_computed(spark):
    """S over a known series, including a tie: [3, 1, 2, 2] →
    pairs (3,1)- (3,2)- (3,2)- (1,2)+ (1,2)+ (2,2)0 → S = -1."""
    rows = [("a", d, v) for d, v in enumerate([3.0, 1.0, 2.0, 2.0])]
    daily = spark.createDataFrame(rows, "t string, d long, v double")
    a = daily.select("t", F.col("d").alias("d1"), F.col("v").alias("v1"))
    b = daily.select("t", F.col("d").alias("d2"), F.col("v").alias("v2"))
    got = (
        a.join(b, "t")
        .where(F.col("d1") < F.col("d2"))
        .agg(F.sum(F.signum(F.col("v2") - F.col("v1"))).cast("long"))
        .first()[0]
    )
    assert got == -1


def test_mann_kendall_query_tau_consistent(spark, sf_small):
    for r in m.queries()["evt_mann_kendall"](spark, sf_small).collect():
        assert r.n_pairs == r.n_days * (r.n_days - 1) // 2
        assert abs(r.s_stat) <= r.n_pairs
        if r.n_pairs:
            assert r.kendall_tau == pytest.approx(r.s_stat / r.n_pairs)


# ---------------------------------------------------------------------------
# Benford
# ---------------------------------------------------------------------------


def test_benford_constants_are_log10():
    assert sum(DQV.BENFORD_P.values()) == pytest.approx(1.0)
    for d in range(1, 10):
        assert DQV.BENFORD_P[d] == pytest.approx(math.log10(1 + 1 / d))


def test_first_significant_digit(spark):
    df = spark.createDataFrame(
        [(1,), (9,), (10,), (99,), (100,), (123456,)], "c long"
    )
    got = [
        r[0]
        for r in df.select(
            DQV.first_significant_digit(F.col("c"))
        ).collect()
    ]
    assert got == [1, 9, 1, 9, 1, 1]


def test_benford_audit_sums(spark, sf_small):
    rows = m.queries()["orders_benford_audit"](spark, sf_small).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert sum(r.n_obs for r in rows) == rows[0].n_total
    assert sum(r.obs_p for r in rows) == pytest.approx(1.0)
    for r in rows:
        assert r.chi2_term >= 0.0


# ---------------------------------------------------------------------------
# Heaps vocabulary growth
# ---------------------------------------------------------------------------


def test_vocab_growth_monotone_and_consistent(spark, sf_small):
    rows = m.queries()["vocab_growth_heaps"](spark, sf_small).collect()
    assert [r.bucket for r in rows] == list(range(10))
    assert rows[-1].cum_tokens == sum(r.n_tokens for r in rows)
    assert rows[-1].cum_types == sum(r.new_types for r in rows)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.cum_tokens >= prev.cum_tokens
        assert cur.cum_types >= prev.cum_types
        # sub-linear growth: beta must stay in (0, 1] once estimable
        if cur.heaps_beta is not None:
            assert 0.0 < cur.heaps_beta <= 1.0
    # new types can never exceed tokens seen in the bucket
    for r in rows:
        assert r.new_types <= r.n_tokens


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_bigram_pairs_edges(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "solo"), (2, ""), (3, "x  y")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: [(p.w1, p.w2) for p in r.bg]
        for r in df.select(
            "doc_id", LM.bigram_pairs("text").alias("bg")
        ).collect()
    }
    assert got[0] == [("a", "b"), ("b", "c")]
    assert got[1] == []
    assert got[2] == []
    # multiple-whitespace runs collapse (empty tokens dropped)
    assert got[3] == [("x", "y")]


def test_bigram_surprisal_hand_computed(spark):
    """Two docs, shared vocabulary — p for the seen bigram ('a','b')
    with c2=2, c1(a)=2, uni counts {a:2, b:2}, N=4, V=2:
    p = .75*(2/2) + .25*((2+1)/(4+2)) = 0.875."""
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b")], "doc_id long, text string"
    )
    vocab = LM.train_unigram_lm(docs)
    bi = LM.train_bigram_lm(docs)
    rows = {
        r.doc_id: r
        for r in LM.bigram_surprisal(docs, bi, vocab).collect()
    }
    for r in rows.values():
        assert r.n_bigrams == 1
        assert r.avg_bigram_nll == pytest.approx(-math.log(0.875))


def test_bigram_lm_scores_word_salad_higher(spark):
    """The bigram signal: natural word order scores lower NLL than the
    same unigram bag shuffled — the spam class a unigram LM misses."""
    natural = "the cat sat on the mat " * 10
    shuffled = "mat the on sat the cat " * 5 + "cat mat the sat on the " * 5
    docs = spark.createDataFrame(
        [(0, natural.strip()), (1, shuffled.strip())],
        "doc_id long, text string",
    )
    vocab = LM.train_unigram_lm(docs)
    bi = LM.train_bigram_lm(docs)
    got = {
        r.doc_id: r.avg_bigram_nll
        for r in LM.bigram_surprisal(docs, bi, vocab).collect()
    }
    assert got[1] > got[0]


def test_bigram_model_top_k_truncates(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b a c")], "doc_id long, text string"
    )
    vocab = LM.train_unigram_lm(docs)
    bi = LM.train_bigram_lm(docs)
    full = LM.bigram_surprisal(docs, bi, vocab).first().avg_bigram_nll
    trunc = (
        LM.bigram_surprisal(docs, bi, vocab, model_top_k=1)
        .first()
        .avg_bigram_nll
    )
    # dropping tail bigrams can only remove bigram mass → higher NLL
    assert trunc >= full


# ---------------------------------------------------------------------------
# split leakage
# ---------------------------------------------------------------------------


def test_split_leakage_full_matrix(spark, sf_small):
    rows = m.queries()["split_leakage_audit"](spark, sf_small).collect()
    assert len(rows) == 6
    cells = {(r.split_lo, r.split_hi) for r in rows}
    assert cells == {
        ("train", "train"),
        ("train", "val"),
        ("train", "test"),
        ("val", "val"),
        ("val", "test"),
        ("test", "test"),
    }
    total = rows[0].total_pairs
    cross = rows[0].cross_pairs
    assert total == sum(r.n_pairs for r in rows)
    assert cross == sum(r.n_pairs for r in rows if r.is_cross)
    if total:
        assert rows[0].cross_fraction == pytest.approx(cross / total)


def test_split_leakage_flags_planted_cross_pair(spark):
    """Two near-identical docs forced into different splits must land in
    a cross cell."""
    from vector_search_optimization_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    # choose ids in different splits of the (id*A + B) % 1000 hash
    a_id = next(
        i
        for i in range(1000)
        if (i * m._SPLIT_A + m._SPLIT_B) % 1000 < 980
    )
    t_id = next(
        i
        for i in range(1000)
        if (i * m._SPLIT_A + m._SPLIT_B) % 1000 >= 990
    )
    docs = spark.createDataFrame(
        [(a_id, base), (t_id, base + "iota")],
        "doc_id long, text string",
    )
    pairs = dedup.jaccard_similarity_join(docs)
    assert pairs.count() == 1
    release_caches(pairs)


# ---------------------------------------------------------------------------
# Gini UDAF overflow contract (ADVICE r6 #2)
# ---------------------------------------------------------------------------


def test_gini_numerator_raises_on_overflow():
    from vector_search_optimization_spark.operators.inequality import (
        gini_numerator,
    )

    fn = gini_numerator.func  # the undecorated python callable
    small = fn(pd.Series([1, 2, 3], dtype=np.int64))
    # x sorted [1,2,3]: 2*(1+4+9) - 4*6 = 4
    assert small == 4
    # x = [0,0,0,2^62]: num = 2*4*2^62 - 5*2^62 = 3*2^62 > 2^63-1
    with pytest.raises(OverflowError):
        fn(pd.Series([0, 0, 0, 2**62], dtype=np.int64))
