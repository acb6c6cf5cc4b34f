"""functions.text — token counts, shingles, fingerprint, language ID."""

from __future__ import annotations

import pytest

from vector_search_optimization_spark.functions import text as TX


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (0, "the cat and the dog sat on the mat"),
        (1, "El perro y el gato que corren por la casa para comer"),
        (2, "der Hund und die Katze sind nicht mit dem Auto auf der Strasse"),
        (3, "le chat est dans la maison pour manger les croissants pas mal"),
        (4, "你好 世界 这是 中文 文本"),
        (5, ""),
        (6, "   "),
        (7, "xyzzy plugh qwerty"),
    ]
    return spark.createDataFrame(rows, "id long, text string").cache()


def test_whitespace_token_count(tdf):
    got = {r.id: r.n for r in tdf.select("id", TX.whitespace_token_count("text").alias("n")).collect()}
    assert got[0] == 9
    assert got[5] == 0
    assert got[6] == 0


def test_language_id(tdf):
    got = {r.id: r.lang for r in tdf.select("id", TX.language_id("text").alias("lang")).collect()}
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "zh"
    assert got[7] == "und"


def test_fingerprint_canonicalizes(spark):
    df = spark.createDataFrame(
        [(0, "Hello,  World!"), (1, "hello world"), (2, "HELLO    WORLD"), (3, "other")],
        "id long, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", TX.fingerprint("text").alias("fp")).collect()}
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    rows = df.select(TX.word_shingles("text", 3).alias("s")).collect()
    assert sorted(rows[0].s) == ["a b c", "b c d"]
    assert rows[1].s == ["a b"]  # shorter than n → whole text


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcde",), ("ab",)], "text string")
    rows = df.select(TX.char_ngrams("text", 3).alias("g")).collect()
    assert sorted(rows[0].g) == ["abc", "bcd", "cde"]
    assert rows[1].g == ["ab"]


def test_quality_ratios(spark):
    df = spark.createDataFrame([("ab12, cd!",), ("",)], "text string")
    rows = df.select(
        TX.digit_ratio("text").alias("d"),
        TX.mean_word_length("text").alias("m"),
    ).collect()
    assert rows[0].d == pytest.approx(2 / 9, abs=1e-6)
    assert rows[0].m == pytest.approx((5 + 3) / 2, abs=1e-6)
    assert rows[1].d is None and rows[1].m is None


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("hello world, foo!",)], "text string")
    n = df.select(TX.bpe_ish_token_count("text").alias("n")).first().n
    # hello / world / , / foo / ! → 5 (whitespace dropped)
    assert n == 5


def test_bpe_ish_drops_tabs_and_newlines(spark):
    """The whitespace filter must exclude tab/newline pieces exactly like
    the oracle's \\s class, not just ASCII spaces (trim's old behavior)."""
    df = spark.createDataFrame([("a\tb\nc d",)], "text string")
    n = df.select(TX.bpe_ish_token_count("text").alias("n")).first().n
    assert n == 4  # a / b / c / d — no whitespace token


def _train_bpe(corpus: str) -> list[tuple[bytes, bytes]]:
    """Textbook BPE training: count adjacent symbol pairs over the
    pre-token frequency table, repeatedly merge the most frequent pair
    (ties broken lexicographically so the table is deterministic)."""
    from vector_search_optimization_spark.functions.bpe import pretokenize

    freqs: dict[tuple[bytes, ...], int] = {}
    for tok in pretokenize(corpus):
        key = tuple(bytes([b]) for b in tok.encode("utf-8"))
        if len(key) > 1:
            freqs[key] = freqs.get(key, 0) + 1
    merges: list[tuple[bytes, bytes]] = []
    for _ in range(512):
        pair_counts: dict[tuple[bytes, bytes], int] = {}
        for sym, n in freqs.items():
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
        if not pair_counts:
            break
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_freqs: dict[tuple[bytes, ...], int] = {}
        for sym, n in freqs.items():
            out: list[bytes] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_freqs[key] = new_freqs.get(key, 0) + n
        freqs = new_freqs
    return merges


def _bpe_truncate(text: str | None, budget_tokens: int) -> str:
    """Reference truncation: whole pre-tokens appended while the running
    BPE count of the prefix fits the budget."""
    from vector_search_optimization_spark.functions.bpe import (
        bpe_token_count,
        pretokenize,
    )

    kept = ""
    for tok in pretokenize(text or ""):
        if bpe_token_count(kept + tok) > budget_tokens:
            break
        kept += tok
    return kept


def test_bpe_merges_table_reproducible():
    """The committed merges table is exactly _train_bpe(SEED_CORPUS)."""
    from vector_search_optimization_spark.functions.bpe import SEED_CORPUS
    from vector_search_optimization_spark.functions.bpe_merges import MERGES

    assert _train_bpe(SEED_CORPUS) == MERGES


def test_bpe_exact_count_and_truncate_semantics():
    from vector_search_optimization_spark.functions.bpe import (
        bpe_budget_stats,
        bpe_token_count,
        pretokenize,
    )

    def bpe_truncate(t, budget):
        return t[: bpe_budget_stats(t, budget)[2]]

    assert bpe_token_count("") == 0
    assert bpe_token_count(None) == 0
    # merged common English beats character count
    t = "the table scans the rows and the filter keeps the values"
    n = bpe_token_count(t)
    assert 0 < n < len(t)
    # truncation: fits budget, is a prefix, never splits a pre-token
    for budget in (0, 1, 3, 7, n, n + 5):
        kept = bpe_truncate(t, budget)
        assert t.startswith(kept)
        assert bpe_token_count(kept) <= budget
        if kept and kept != t:
            # boundary falls exactly after a whole pre-token
            joined = ""
            for p in pretokenize(t):
                joined += p
                if joined == kept:
                    break
            assert joined == kept
    assert bpe_truncate(t, n) == t
    # count is additive over pre-tokens: punctuation & digits tokenize
    assert bpe_token_count("x1!") >= 3


def test_bpe_exact_spark_matches_python(spark):
    from vector_search_optimization_spark.functions.bpe import bpe_token_count

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "numbers 1024 and marks !? mix in"),
        (2, ""),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r.n
        for r in df.select(
            "id", TX.bpe_token_count_exact("text").alias("n")
        ).collect()
    }
    for i, t in rows:
        assert got[i] == bpe_token_count(t)


# --- word-window chunking ----------------------------------------------------

def test_word_chunks_windows_and_overlap(spark):
    from vector_search_optimization_spark.functions import text as TX

    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame([(0, " ".join(words)), (1, "a b"), (2, "  "), (3, None)],
                               "doc_id long, text string")
    out = {
        r.doc_id: r.chunks
        for r in df.select(
            "doc_id", TX.word_chunks("text", chunk_tokens=4, overlap=2).alias("chunks")
        ).collect()
    }
    c0 = out[0]
    # stride = 2 over 10 words -> starts 0,2,4,6,8
    assert [c.chunk_ix for c in c0] == [0, 1, 2, 3, 4]
    assert c0[0].chunk_text == "w0 w1 w2 w3"
    assert c0[1].chunk_text == "w2 w3 w4 w5"        # 2-token overlap
    assert c0[-1].chunk_text == "w8 w9"              # short tail window
    assert [c.n_tokens for c in c0] == [4, 4, 4, 4, 2]
    assert [c.chunk_text for c in out[1]] == ["a b"]  # short doc: one chunk
    assert out[2] == []                               # blank -> no chunks
    assert out[3] in ([], None)                       # null-safe

    # every token is covered by at least one chunk
    covered = set()
    for c in c0:
        covered |= set(c.chunk_text.split())
    assert covered == set(words)


def test_word_chunks_rejects_bad_overlap(spark):
    import pytest as _pytest

    from vector_search_optimization_spark.functions import text as TX

    with _pytest.raises(ValueError):
        TX.word_chunks("text", chunk_tokens=4, overlap=4)


def test_word_ngrams_and_repetition_metrics(spark):
    from vector_search_optimization_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),
            (1, "all words here are unique"),
            (2, "x"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            TX.word_ngrams("text").alias("grams"),
        ).collect()
    }
    assert out[0].grams == ["spam spam"] * 3
    assert out[1].grams == ["all words", "words here", "here are", "are unique"]
    assert out[2].grams == []   # < n words
    assert out[3].grams == []   # empty text


def test_bpe_budget_stats_equals_composed_definition():
    """The fused one-pass stats must equal the compositional definition
    (count, count∘truncate, len∘truncate) — guards the pre-tokenization
    boundary assumption the fusion relies on."""
    from vector_search_optimization_spark.functions.bpe import (
        bpe_budget_stats,
        bpe_token_count,
    )

    cases = [
        "hello world, this is a test 123 !!",
        "",
        None,
        "x" * 300,
        "palabra años café  naïve\t\n trailing   ",
        "don't split contractions (it's 'tricky')",
    ]
    for t in cases:
        for b in (0, 1, 5, 40, 10_000):
            kept = _bpe_truncate(t, b)
            assert bpe_budget_stats(t, b) == (
                bpe_token_count(t),
                bpe_token_count(kept),
                len(kept),
            ), (t, b)
