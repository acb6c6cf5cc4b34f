"""BLAS kernel paths must match their declarative twins exactly
(same math in double precision; rounding applied after)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_optimization_spark.functions import vector as V
from vector_search_optimization_spark.operators import ann
from vector_search_optimization_spark.operators import similarity as SIM
from vector_search_optimization_spark.sources import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").cache()


def test_intra_group_pairs_kernel_matches_join(emb):
    join_pairs = (
        SIM.intra_group_pairs(emb, "label", "vec_id", "embedding")
        .select("label", "id_a", "id_b", F.round("sim", 9).alias("sim"))
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    kern_pairs = (
        SIM.intra_group_pairs_kernel(emb, "label", "vec_id", "embedding")
        .select("label", "id_a", "id_b", F.round("sim", 9).alias("sim"))
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    assert len(join_pairs) == len(kern_pairs)
    assert (join_pairs.id_a == kern_pairs.id_a).all()
    assert (join_pairs.id_b == kern_pairs.id_b).all()
    assert np.allclose(join_pairs.sim, kern_pairs.sim, rtol=1e-9)


def test_intra_group_pairs_kernel_min_sim_pushdown(emb):
    """min_sim pushed into the kernel == unpushed kernel + post-filter:
    identical pair sets and sims (the cut happens before the Arrow
    transfer, never changing which pairs qualify)."""
    full = (
        SIM.intra_group_pairs_kernel(emb, "label", "vec_id", "embedding")
        .where(F.col("sim") >= 0.2)
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    pushed = (
        SIM.intra_group_pairs_kernel(
            emb, "label", "vec_id", "embedding", min_sim=0.2
        )
        .toPandas()
        .sort_values(["id_a", "id_b"], ignore_index=True)
    )
    assert list(full.id_a) == list(pushed.id_a)
    assert list(full.id_b) == list(pushed.id_b)
    assert np.allclose(full.sim, pushed.sim, rtol=1e-12)
    assert len(pushed) > 0


def test_all_pairs_topk_matches_crossjoin(emb):
    kern = ann.all_pairs_topk(emb, k=15).toPandas()
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    decl = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(V.cosine_similarity("va", "vb"), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(15)
        .toPandas()
    )
    assert list(kern.id_a) == list(decl.id_a)
    assert list(kern.id_b) == list(decl.id_b)
    assert np.allclose(kern.cos_sim, decl.cos_sim, atol=1e-6)


def test_intra_group_kernel_single_row_groups(spark):
    df = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "b", [0.0, 1.0]), (3, "b", [1.0, 1.0])],
        "vec_id long, label string, embedding array<float>",
    )
    out = SIM.intra_group_pairs_kernel(df, "label", "vec_id", "embedding").collect()
    assert len(out) == 1  # singleton group 'a' emits nothing
    assert (out[0].id_a, out[0].id_b) == (2, 3)


def test_rp_table_buckets_kernel_matches_expression(spark, sf_small):
    """The GEMM bucket kernel must assign the identical multi-table
    bucket arrays as the fold-dot expression path."""
    from vector_search_optimization_spark.operators import ann
    from vector_search_optimization_spark.sources import load_table

    e = load_table(spark, sf_small, "embeddings")
    expr = {
        r.vec_id: r.rp_buckets
        for r in ann.rp_table_buckets(e).select("vec_id", "rp_buckets").collect()
    }
    kern = {
        r.vec_id: r.rp_buckets
        for r in ann.rp_table_buckets_kernel(e.select("vec_id", "embedding")).collect()
    }
    assert kern == expr


def test_word_gram_stats_kernel_matches_expression(spark, sf_small):
    """word_gram_stats_expr (map-side Arrow kernel) must reproduce the
    declarative explode-word_ngrams → two-groupBy formulation plus the
    word and distinct-word counts exactly — on real documents AND the
    edge cases (empty, single word, all-repeated, NULL, exotic
    whitespace that Java \\s does not split on)."""
    from vector_search_optimization_spark.functions import text as TX

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "   "),
            (9003, "one"),
            (9004, "a a a a a"),
            (9005, "a b a b a b"),
            (9006, None),
            (9007, "x y z\tz z"),  # NBSP is NOT Java \s
            (9008, "Tab\tand\nnewline  double  space"),
        ],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)

    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    decl_words = d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    )
    gram_stats = (
        d.select("doc_id", F.explode(TX.word_ngrams("text")).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_grams"), F.max("c").alias("max_gram_count"))
    )
    decl = {
        r.doc_id: (
            r.n_words,
            r.n_distinct_words,
            r.n_grams or 0,
            r.max_gram_count or 0,
        )
        for r in decl_words.join(gram_stats, "doc_id", "left").collect()
    }
    kern = {
        r.doc_id: (
            r.st.n_words,
            r.st.n_distinct_words,
            r.st.n_grams,
            r.st.max_gram_count,
        )
        for r in d.select(
            "doc_id", TX.word_gram_stats_expr("text", 2).alias("st")
        ).collect()
    }
    # NULL text: expression size() is NULL -> kernel emits NULLs too
    assert kern[9006] == (None, None, None, None)
    decl[9006] = kern[9006]  # size(NULL)=None handled above
    kern = {k: v for k, v in kern.items()}
    assert kern == decl


def test_word_gram_stats_py_trigram():
    """n=3 grams + the n_words < n short-text branch."""
    from vector_search_optimization_spark.functions import text as TX

    assert TX.word_gram_stats_py("a b", 3) == (2, 2, 0, 0)
    assert TX.word_gram_stats_py("a b a b a b a", 3) == (7, 2, 5, 3)
    assert TX.word_gram_stats_py(None, 3) == (None, None, None, None)


def test_line_stats_kernel_matches_declarative(spark, sf_small):
    """line_stats_expr (map-side Arrow kernel) must reproduce the
    declarative explode-split → trim/filter → per-value counts → dup
    aggregation formulation exactly — on real documents AND edge cases
    (empty, whitespace-only lines, CRLF, dup lines, dup paragraphs,
    NULL)."""
    from vector_search_optimization_spark.functions import text as TX

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "   \n \t \n  "),
            (9003, "only one line"),
            (9004, "dup\ndup\ndup\nunique"),
            (9005, "para a\n\npara a\n\n\npara b"),
            (9006, None),
            (9007, "crlf line\r\ncrlf line\r\nother"),
            (9008, "  padded  \npadded\n\tpadded\t"),
        ],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)

    def decl(split_pat: str, tag: str):
        pieces = d.select(
            "doc_id", F.explode(F.split("text", split_pat)).alias("x")
        ).select(
            "doc_id",
            F.regexp_replace("x", r"^[ \t\r]+|[ \t\r]+$", "").alias("p"),
        ).where(F.col("p") != "")
        return (
            pieces.groupBy("doc_id", "p")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                F.sum("c").alias(f"n_{tag}"),
                F.coalesce(
                    F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
                ).alias(f"dup_{tag}"),
                F.sum(F.col("c") * F.length("p")).alias(f"{tag}_chars"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("c") > 1, F.col("c") * F.length("p"))
                    ),
                    F.lit(0),
                ).alias(f"dup_{tag}_chars"),
            )
        )

    lines = {r.doc_id: r for r in decl("\n", "lines").collect()}
    paras = {r.doc_id: r for r in decl("\n{2,}", "paras").collect()}
    kern = {
        r.doc_id: r.st
        for r in d.select(
            "doc_id", TX.line_stats_expr("text").alias("st")
        ).collect()
    }
    for doc_id, st in kern.items():
        if st is None or st.n_lines is None:
            assert doc_id == 9006  # NULL text
            continue
        dl = lines.get(doc_id)
        want_l = (
            (dl.n_lines, dl.dup_lines, dl.lines_chars, dl.dup_lines_chars)
            if dl is not None
            else (0, 0, 0, 0)
        )
        got_l = (st.n_lines, st.dup_lines, st.line_chars, st.dup_line_chars)
        assert got_l == want_l, (doc_id, got_l, want_l)
        dp = paras.get(doc_id)
        want_p = (
            (dp.n_paras, dp.dup_paras, dp.paras_chars, dp.dup_paras_chars)
            if dp is not None
            else (0, 0, 0, 0)
        )
        got_p = (st.n_paras, st.dup_paras, st.para_chars, st.dup_para_chars)
        assert got_p == want_p, (doc_id, got_p, want_p)


def test_line_stats_py_units():
    from vector_search_optimization_spark.functions import text as TX

    assert TX.line_stats_py(None) == (None,) * 8
    assert TX.line_stats_py("") == (0, 0, 0, 0, 0, 0, 0, 0)
    # 3x 'dup' (3 chars) + 1x 'unique': dup_lines=3, dup_chars=9
    assert TX.line_stats_py("dup\ndup\ndup\nunique") == (
        4, 3, 15, 9, 1, 0, 18, 0,
    )


def test_word_gram_stats_multi_matches_single(spark, sf_small):
    """The multi-n kernel must equal three single-n kernel passes
    field-for-field (one tokenization pass is an optimization only)."""
    from vector_search_optimization_spark.functions import text as TX

    d = load_table(spark, sf_small, "documents").select("doc_id", "text")
    multi = {
        r.doc_id: r.st
        for r in d.select(
            "doc_id", TX.word_gram_stats_multi_expr("text").alias("st")
        ).collect()
    }
    for n in (2, 3, 4):
        single = {
            r.doc_id: r.st
            for r in d.select(
                "doc_id", TX.word_gram_stats_expr("text", n).alias("st")
            ).collect()
        }
        for doc_id, st in single.items():
            m = multi[doc_id]
            assert (st.n_words, st.n_distinct_words) == (
                m.n_words,
                m.n_distinct_words,
            )
            assert st.n_grams == m[f"n_grams_{n}"]
            assert st.max_gram_count == m[f"max_gram_count_{n}"]


def test_word_entropy_kernel_matches_declarative(spark, sf_small):
    """word_entropy_stats_expr (map-side Arrow kernel) must reproduce the
    declarative explode → per-(doc, word) counts → per-doc aggregate
    formulation — n_tokens/n_distinct exactly, entropy to 1e-9 rel (the
    kernel sums c·ln(c) over sorted counts, the shuffle in any order) —
    on real documents and the empty/whitespace/NULL/single-word edges."""
    import math

    from vector_search_optimization_spark.functions import text as TX

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "   \t  "),
            (9003, "word"),
            (9004, "a a a a"),
            (9005, "A a B b a"),
            (9006, None),
        ],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    decl = {
        r.doc_id: r
        for r in (
            d.select("doc_id", F.explode(words).alias("w"))
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                F.sum("c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(
                    F.col("c").cast("double")
                    * F.log(F.col("c").cast("double"))
                ).alias("lnsum"),
            )
            .collect()
        )
    }
    kern = {
        r.doc_id: r.st
        for r in d.select(
            "doc_id", TX.word_entropy_stats_expr("text").alias("st")
        ).collect()
    }
    assert kern[9006].n_tokens is None  # NULL text null-propagates
    assert (kern[9001].n_tokens, kern[9001].entropy_nats) == (0, None)
    assert (kern[9002].n_tokens, kern[9002].entropy_nats) == (0, None)
    assert kern[9003].entropy_nats == 0.0  # single word: H = 0
    assert kern[9004].entropy_nats == 0.0  # uniform single type: H = 0
    assert abs(kern[9005].entropy_nats - math.log(5) - (
        -(3 / 5) * math.log(3 / 5) - (2 / 5) * math.log(2 / 5) - math.log(5)
    )) < 1e-12  # lowercased: {a:3, b:2}
    for doc_id, st in kern.items():
        if st.n_tokens is None or st.n_tokens == 0:
            continue
        dr = decl[doc_id]
        assert (st.n_tokens, st.n_distinct) == (dr.n_tokens, dr.n_distinct)
        want = math.log(dr.n_tokens) - dr.lnsum / dr.n_tokens
        assert abs(st.entropy_nats - want) <= 1e-9 * max(1.0, abs(want))
