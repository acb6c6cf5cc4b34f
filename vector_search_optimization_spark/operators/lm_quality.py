"""Unigram language-model quality scoring (perplexity-style filter).

Standard training-data curation signal (CCNet / Gopher lineage): train a
unigram LM on the corpus, score each document by its mean token
surprisal ``-ln p(w)``; outlier-surprisal documents are boilerplate or
noise. The real pipelines use a KenLM n-gram model — the unigram variant
keeps the identical plan shape (train = one combinable groupBy; score =
broadcast-join + one combinable per-doc agg) with no external model
artifact, and is exactly expressible in ANSI SQL for the oracle.

Add-one smoothing: ``p(w) = (cnt(w) + 1) / (N + V)`` with N = corpus
token count, V = vocab size, so a document scored against a vocabulary
that missed a word (OOV cnt=0) stays finite.

Scale (SCALING.md): tokenize is map-only; vocab is ONE combinable
shuffle; at 100 TB the vocabulary is truncated to the top-K words
(``vocab_top_k``) so the scoring join stays a broadcast — the tail
collapses into the smoothing term, which is the curation-correct
treatment (rare garbage tokens score as near-OOV). Per-doc scoring is
one more combinable shuffle. No window, no cartesian, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

TOKEN_SPLIT_RE = r"\s+"


def tokenize(text: Column | str) -> Column:
    """Whitespace tokens, empty pieces dropped — byte-identical to the
    oracle's ``string_split_regex(text, '\\s+')`` + non-empty filter."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, TOKEN_SPLIT_RE), lambda s: s != "")


def train_unigram_lm(
    docs: DataFrame, text_col: str = "text", tokens_col: str | None = None
) -> DataFrame:
    """Unigram counts over the corpus: (word, cnt). One combinable
    groupBy shuffle; partial aggregation happens map-side. Pass
    ``tokens_col`` (an ``array<string>`` column) to score a
    pre-tokenized — typically persisted — frame instead of
    re-tokenizing ``text_col`` (the doc_bigram_lm pattern: ONE
    tokenization pass persisted, three consumers)."""
    toks = F.col(tokens_col) if tokens_col else tokenize(text_col)
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_surprisal(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    vocab_top_k: int | None = None,
) -> DataFrame:
    """Per-document mean token surprisal under the unigram LM.

    ``vocab`` is (word, cnt) from train_unigram_lm — possibly trained on
    a different corpus (cross-corpus scoring is the decontamination-style
    use). N and V are measured on the *vocab* (the model, not the scored
    corpus). The scoring join broadcasts the vocabulary; with
    ``vocab_top_k`` only the most frequent k words ship, the rest smooth.
    """
    if vocab_top_k is not None:
        vocab = vocab.orderBy(F.col("cnt").desc(), F.col("word")).limit(vocab_top_k)
    totals = vocab.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v_size"),
    )
    toks = docs.select(F.col("doc_id"), F.explode(tokenize(text_col)).alias("word"))
    scored = (
        toks.join(broadcast(vocab), "word", "left")
        .join(broadcast(totals))
        .select(
            "doc_id",
            (
                -F.log((F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0)) / (F.col("n_total") + F.col("v_size")))
            ).alias("surprisal"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("surprisal").alias("avg_surprisal"),
    )


def bigram_pairs(text_col: Column | str, tokens: Column | None = None) -> Column:
    """``array<struct<w1,w2>>`` of adjacent token pairs — F.transform
    with the index arg + 1-based element_at, so the struct fields carry
    stable names (arrays_zip would name slice-expression fields
    positionally). Documents with < 2 tokens yield an empty array.
    ``tokens`` (an ``array<string>`` Column) skips re-tokenization."""
    t = tokens if tokens is not None else tokenize(text_col)
    n = F.size(t)
    pairs = F.transform(
        F.slice(t, 1, n - 1),
        lambda w, i: F.struct(
            w.alias("w1"), F.element_at(t, i + F.lit(2)).alias("w2")
        ),
    )
    return F.when(n >= 2, pairs).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


def train_bigram_lm(docs: DataFrame, tokens_col: str | None = None) -> DataFrame:
    """Adjacent-bigram counts over the corpus: (w1, w2, c2). Map-side
    pair explode + ONE combinable groupBy — same plan class as the
    unigram trainer, keyed on the pair. ``tokens_col`` consumes a
    pre-tokenized frame (see train_unigram_lm)."""
    toks = F.col(tokens_col) if tokens_col else None
    return (
        docs.select(F.explode(bigram_pairs("text", toks)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )


def bigram_surprisal(
    docs: DataFrame,
    bigram_counts: DataFrame,
    vocab: DataFrame,
    model_top_k: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document mean bigram surprisal under an INTERPOLATED bigram
    LM — the KenLM-shaped curation signal one order above
    :func:`unigram_surprisal`:

        p(w2 | w1) = lam * c(w1,w2)/c(w1)  +  (1-lam) * (c(w2)+1)/(N+V)

    (Jelinek-Mercer interpolation with the add-one unigram as the
    backoff floor, so unseen bigrams and OOV words both score finite).
    Plan: doc-bigram explode (map-side) → equi-join on (w1, w2) to the
    bigram table and on w1/w2 to the unigram table → one combinable
    per-doc agg. At 100 TB set ``model_top_k``: only the most frequent
    k bigrams ship (a broadcast), the tail collapses into the unigram
    backoff — the same truncation contract as ``vocab_top_k`` on the
    unigram scorer. N and V are measured on the unigram model."""
    if model_top_k is not None:
        bigram_counts = bigram_counts.orderBy(
            F.col("c2").desc(), "w1", "w2"
        ).limit(model_top_k)
        bigram_counts = broadcast(bigram_counts)
        vocab = broadcast(vocab)
    totals = vocab.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v_size"),
    )
    bg = docs.select(
        F.col("doc_id"),
        F.explode(
            bigram_pairs("text", F.col(tokens_col) if tokens_col else None)
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    u1 = vocab.select(F.col("word").alias("w1"), F.col("cnt").alias("c1"))
    u2 = vocab.select(F.col("word").alias("w2"), F.col("cnt").alias("cu2"))
    # the conditional keeps cross-corpus scoring finite: an OOV history
    # word (c1 NULL) contributes no bigram mass and falls back to the
    # unigram floor instead of null-propagating into the doc average
    p = (
        F.lit(0.75)
        * F.when(
            F.col("c1").isNotNull(),
            F.coalesce(F.col("c2"), F.lit(0)).cast("double")
            / F.col("c1").cast("double"),
        ).otherwise(F.lit(0.0))
        + F.lit(0.25)
        * (
            (F.coalesce(F.col("cu2"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("n_total") + F.col("v_size"))
        )
    )
    scored = (
        bg.join(bigram_counts, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .join(broadcast(totals))
        .select("doc_id", (-F.log(p)).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("nll").alias("avg_bigram_nll"),
    )
