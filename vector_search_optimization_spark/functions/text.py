"""Text-analysis kernels for large-scale training-data pipelines.

Engine extensions beyond the reference's surface (the reference counts
tokens with tiktoken for its LLM budget, update-etiquetas.ipynb:171 c9 F10;
everything else here is the standard corpus-curation toolkit). Built from
JVM-side expressions so they run inside whole-stage codegen over billions
of documents — except the EXACT BPE counters, which run the real merge
loop (functions.bpe) as Arrow-batched pandas UDFs; the regex counters
remain as the scan-time fast path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- token counting (F10-adjacent) ------------------------------------------

def whitespace_token_count(text: Column | str) -> Column:
    """Token count by whitespace splitting; '' counts as 0 tokens."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Cheap proxy for BPE token counts without leaving codegen.

    Counts maximal runs of word chars, digits, or single punctuation —
    the pre-tokenization regex family GPT-style BPEs use. Deterministic,
    pure-SQL, so it can gate token budgets (F11) at scan time. For exact
    counts use bpe_token_count_exact (the real merge loop).
    """
    t = _c(text)
    return F.size(
        F.filter(
            F.split(t, r"(?=[^\p{L}\p{N}])|(?<=[^\p{L}\p{N}])"),
            # pieces containing no non-whitespace char are not tokens;
            # rlike('\\S') matches the oracle's \s exclusion exactly
            # (trim() would strip ASCII spaces only and miss tabs/newlines)
            lambda s: s.rlike(r"\S"),
        )
    )


def bpe_token_count_exact(text: Column | str) -> Column:
    """F10 — EXACT byte-level BPE token count via the real merge loop
    over the committed merges table (functions.bpe; the public algorithm
    the reference reaches through tiktoken, update-etiquetas.ipynb:171
    c9). Arrow-batched pandas UDF: the per-pre-token merge is lru-cached,
    so hot vocabulary costs one merge loop per distinct pre-token per
    worker, not per occurrence. (The udf object is created per call —
    pandas_udf type parsing needs an active session.)"""

    @F.pandas_udf("long")
    def _u(s: pd.Series) -> pd.Series:
        from .bpe import bpe_token_count

        return s.map(bpe_token_count).astype("int64")

    return _u(_c(text))


# --- quality scoring ---------------------------------------------------------

def word_chunks(
    text: Column | str, chunk_tokens: int = 64, overlap: int = 16
) -> Column:
    """Sliding word-window chunking — the reference's ingest step between
    document conversion and embedding (chunks are the engine's fact rows,
    SURVEY §1.1; 5,755 chunk rows from the corpus, silhouettes.ipynb:237
    c11). Returns an array of structs (chunk_ix, n_tokens, chunk_text):
    windows of ``chunk_tokens`` whitespace tokens starting every
    ``chunk_tokens - overlap`` tokens, last windows shorter. Empty/blank
    text yields no chunks.

    Pure column expression — chunking a 100 TB corpus is a map-only
    projection (zero shuffle; plan-pinned) and composes with posexplode
    into one row per chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    t = F.trim(_c(text))
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    n = F.size(words)
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - 1, F.lit(step)).cast("array<int>")
    )
    return F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_ix"),
            F.least(n - s, F.lit(chunk_tokens)).alias("n_tokens"),
            F.array_join(F.slice(words, s + 1, chunk_tokens), " ").alias(
                "chunk_text"
            ),
        ),
    )


def char_count(text: Column | str) -> Column:
    return F.length(_c(text))


def digit_ratio(text: Column | str) -> Column:
    t = _c(text)
    n = F.length(t).cast("double")
    digit = (n - F.length(F.regexp_replace(t, r"[0-9]", ""))).cast("double")
    return F.when(n == 0, F.lit(None)).otherwise(F.round(digit / n, 6))


def mean_word_length(text: Column | str) -> Column:
    t = F.trim(_c(text))
    words = F.split(t, r"\s+")
    total = F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w))
    return F.when(t == "", F.lit(None)).otherwise(F.round(total / F.size(words), 6))


# stopword tables for the n-gram language-ID heuristic. Tiny, broadcast as
# literal arrays — no shuffle, no dim-table join.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para"],
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "auf"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "pas"],
}


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang` (lowercased match)."""
    words = F.split(F.lower(F.trim(_c(text))), r"\s+")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are stopwords (quality signal: natural prose
    sits around 0.3-0.5; keyword soup and boilerplate sit near 0)."""
    t = F.trim(_c(text))
    words = F.split(F.lower(t), r"\s+")
    return F.when(t == "", F.lit(None)).otherwise(
        F.round(stopword_hits(text, "en") / F.size(words), 6)
    )


def language_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts.

    Latin-script langs scored by stopword hits; CJK detected by codepoint
    range first (stopword lists are useless there). Returns 'und' when no
    signal. Pure column expression — runs at scan speed.
    """
    t = _c(text)
    han = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    scored = F.array(
        *[
            F.struct(stopword_hits(t, lang).alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(_STOPWORDS)
        ]
    )
    best = F.array_max(scored)  # struct compare: hits first, lang tiebreak
    return (
        F.when(han > 0, F.lit("zh"))
        .when(best["hits"] > 0, best["lang"])
        .otherwise(F.lit("und"))
    )


# --- fingerprinting / shingling ----------------------------------------------

_ASCII_PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"


def fingerprint(text: Column | str) -> Column:
    """64-bit document fingerprint of normalized text (xxhash64).

    Normalization: lowercase, strip ASCII punctuation, collapse whitespace —
    the usual exact-dup canonical form. Punctuation goes through
    ``translate`` (char-table lookup) rather than a regex: ~5x faster on
    long documents, and the hot path of exact dedup is exactly this
    normalization.
    """
    t = F.translate(F.lower(_c(text)), _ASCII_PUNCT, "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return F.xxhash64(t)


def word_tokens_py(text: str | None) -> list[str]:
    """Canonical python tokenizer for the dedup kernels — the exact twin
    of the expression path (split(lower(trim(text)), '\\s+') with empty
    pieces dropped) and of the DuckDB oracles (string_split_regex +
    list_filter). ASCII \\s ONLY (re.ASCII): Java regex \\s and DuckDB's
    RE2 \\s are ASCII-only, while python str.split() also splits on
    unicode whitespace (NBSP, U+2028, ...), which silently diverges
    signatures on web corpora. NULL → [] (callers drop NULL-text rows
    before signatures; see the dedup module contract)."""
    import re

    return [
        t
        for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII)
        if t
    ]


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles (distinct), the MinHash input.

    Empty split pieces are dropped (a leading tab otherwise yields a ""
    token in the expression path only — the kernels and the DuckDB
    oracles never emit one)."""
    words = F.filter(
        F.split(F.lower(F.trim(_c(text))), r"\s+"), lambda t: t != ""
    )
    k = F.size(words) - (n - 1)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.when(k <= 0, F.array(F.array_join(words, " "))).otherwise(
        F.array_distinct(shingles)
    )


#: Mersenne prime 2^31-1 — keeps acc*base + code < 2^39, ANSI-safe in a
#: long, and small enough for DuckDB BIGINT arithmetic in the oracles.
POLY_MOD = (1 << 31) - 1
POLY_BASE = 131
POLY_BASE2 = 137


def poly_hash(text: Column | str, base: int = POLY_BASE) -> Column:
    """SQL-expressible polynomial rolling hash (Horner over codepoints).

    ``h = fold(chars, 0, (acc, ch) -> (acc*base + codepoint(ch)) mod p)``
    — the same value is computable in DuckDB via ``list_reduce`` and in
    Python via :func:`poly_hash_py`, which is what lets the minhash /
    simhash dedup queries carry value oracles (xxhash64 has no DuckDB
    twin). Interpreted HOF: fine for oracles and small fixtures; the hot
    path uses the Arrow kernels with :func:`poly_hash_py`.
    """
    chars = F.filter(F.split(_c(text), ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * F.lit(base) + F.ascii(ch), F.lit(POLY_MOD)),
    )


def poly_hash_py(s: str, base: int = POLY_BASE, mod: int = POLY_MOD) -> int:
    """Python twin of :func:`poly_hash` (used by the Arrow dedup kernels)."""
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


_POW_CACHE: dict[tuple[int, int], "np.ndarray"] = {}


def _poly_pows(base: int, mod: int, n: int) -> "np.ndarray":
    """base^k mod p for k < n (cached, grown geometrically)."""
    import numpy as np

    pw = _POW_CACHE.get((base, mod))
    if pw is None or len(pw) < n:
        size = max(n, 256, 0 if pw is None else 2 * len(pw))
        pw = np.empty(size, dtype=np.int64)
        pw[0] = 1
        for i in range(1, size):
            pw[i] = (pw[i - 1] * base) % mod
        _POW_CACHE[(base, mod)] = pw
    return pw


def poly_hash_shingles_np(
    toks: list[str],
    shingle_n: int,
    base: int = POLY_BASE,
) -> "np.ndarray":
    """Vectorized :func:`poly_hash_py` of every word ``shingle_n``-gram of
    ``toks`` — bit-identical to
    ``[poly_hash_py(" ".join(toks[i:i+n])) for i in range(len(toks)-n+1)]``
    (one element, the whole join, when there are fewer than n tokens).

    Each shingle is a contiguous substring of ``" ".join(toks)``, so the
    per-character Horner fold factors into ``sum(code_j * base^(L-1-j))``
    — one (windows × max_window_len) gather + row-wise dot against the
    cached power table, all C-speed. Row-chunked so the scratch matrix
    stays under ~4M cells even on pathological token lengths."""
    import numpy as np

    if len(toks) < shingle_n:
        return np.array([poly_hash_py(" ".join(toks), base, POLY_MOD)], dtype=np.int64)
    full = " ".join(toks)
    codes = np.frombuffer(full.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    tl = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    off = np.zeros(len(toks) + 1, dtype=np.int64)
    np.cumsum(tl + 1, out=off[1:])  # token i starts at off[i]
    m = len(toks) - shingle_n + 1
    starts = off[:m]
    last = np.arange(shingle_n - 1, shingle_n - 1 + m)
    ends = off[last] + tl[last]
    length = ends - starts
    out = np.empty(m, dtype=np.int64)
    lo = 0
    while lo < m:
        hi = min(m, lo + 4096)
        maxw = int(length[lo:hi].max())
        while (hi - lo) * maxw > 4_000_000 and hi - lo > 1:
            hi = lo + max(1, (hi - lo) // 2)
            maxw = int(length[lo:hi].max())
        j = np.arange(maxw, dtype=np.int64)[None, :]
        ls, ll = starts[lo:hi, None], length[lo:hi, None]
        valid = j < ll
        sub = codes[np.where(valid, ls + j, 0)]
        pw = _poly_pows(base, POLY_MOD, maxw)
        p = pw[np.where(valid, ll - 1 - j, 0)]
        out[lo:hi] = ((sub * p) % POLY_MOD * valid).sum(axis=1) % POLY_MOD
        lo = hi
    return out


def char_gram_hashes_np(s: str, n: int) -> "np.ndarray":
    """Positional char n-gram polynomial hashes, vectorized — the
    character-level analog of poly_hash_shingles_np. Bit-identical to
    ``[poly_hash_py(s[i:i+n]) for i in range(len(s)-n+1)]`` (whole-string
    hash when len < n): the per-gram Horner fold equals one codes·powers
    dot, exact in int64 because n · max_codepoint · mod < 2^63 (powers
    are mod-reduced; congruence makes the single final mod equal the
    per-step Horner mod)."""
    import numpy as np

    if n * 0x110000 * POLY_MOD >= 2**63:  # pragma: no cover — absurd-n guard
        raise ValueError("n too large for exact int64 window hashing")
    if len(s) < n:
        return np.array([poly_hash_py(s, POLY_BASE, POLY_MOD)], dtype=np.int64)
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    pows = np.array(
        [pow(POLY_BASE, n - 1 - j, POLY_MOD) for j in range(n)], dtype=np.int64
    )
    windows = np.lib.stride_tricks.sliding_window_view(codes, n)
    return (windows @ pows) % POLY_MOD


def winnow_positions_np(s: str, n: int, w: int) -> "np.ndarray":
    """Distinct 1-based start positions of the winnow-SELECTED char
    n-grams: for every sliding window of ``w`` consecutive gram hashes,
    the position of the LEFTMOST minimum (np ``argmin`` ties-to-first ==
    DuckDB ``list_position(sub, list_min(sub))``), deduplicated.

    This is :func:`char_gram_hashes_np`-based winnowing with POSITIONS
    kept (the fingerprint queries keep only hash sets) — the anchor set
    for exact-span duplicate detection: any substring of length
    >= n + w - 1 shared between two documents contains a full hash
    window on both sides, and (absent a poly-hash collision inside one
    window) both select the same gram at the same offset into the span,
    so the span is discoverable from selected-gram equality alone.
    Texts shorter than ``n`` select position 1 (the whole-string gram).
    """
    import numpy as np

    h = char_gram_hashes_np(s, n)
    if len(h) <= w:
        return np.array([int(h.argmin()) + 1], dtype=np.int64)
    wins = np.lib.stride_tricks.sliding_window_view(h, w)
    pos = wins.argmin(axis=1) + np.arange(len(h) - w + 1, dtype=np.int64)
    return np.unique(pos) + 1


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Array of distinct character n-grams (for n-gram Jaccard)."""
    t = F.lower(F.trim(_c(text)))
    k = F.length(t) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.when(k <= 0, F.array(t)).otherwise(F.array_distinct(grams))


def word_ngrams(text: Column | str) -> Column:
    """Array of word n-grams WITH multiplicity (unlike word_shingles,
    which dedups for MinHash): the input for repetition metrics, where
    the whole signal is how often grams repeat. Texts with fewer than n
    words yield an empty array."""
    words = F.filter(F.split(F.lower(F.trim(_c(text))), r"\s+"), lambda w: w != "")
    k = F.size(words) - 1
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(words, i + 1, 2), " "),
        )
    )


def compressed_size_py(text: str | None) -> int | None:
    """Deflate-compressed byte size of the utf-8 text (stdlib zlib,
    fixed level — deterministic for a given zlib build). NULL → NULL."""
    import zlib

    if text is None:
        return None
    return len(zlib.compress(text.encode("utf-8"), 6))


def compressed_size_expr(text: Column | str) -> Column:
    """Arrow-batched deflate size per document — the input to the
    compression-ratio quality signal (highly repetitive or templated
    text compresses far below natural prose; the Gopher-family
    compression filter). Map-side only; the ratio math stays JVM-side
    for oracle parity."""

    @F.pandas_udf("long")
    def _u(s: pd.Series) -> pd.Series:
        return s.map(lambda x: compressed_size_py(x))

    return _u(_c(text))


def word_gram_stats_py(
    text: str | None, n: int = 2
) -> tuple[int | None, int | None, int | None, int | None]:
    """Python twin of the repetition-metric expression pipeline —
    per document ``(n_words, n_distinct_words, n_grams, max_gram_count)``
    with exactly the semantics of ``word_ngrams(text, n)`` exploded into
    per-gram counts plus the word and distinct-word counts:

    - tokenization is :func:`word_tokens_py` (the canonical twin of
      ``split(lower(trim(text)), '\\s+')`` with empty pieces dropped);
    - fewer than ``n`` words → ``n_grams = max_gram_count = 0`` (the
      expression path's empty gram array → no exploded rows → coalesce 0);
    - NULL text → all-NULL so downstream expressions null-propagate the
      way the expression path does.

    Gram identity uses token tuples — equivalent to the expression
    path's ``array_join(slice(words, i, n), ' ')`` strings because
    whitespace-split tokens cannot contain the joiner."""
    if text is None:
        return None, None, None, None
    toks = word_tokens_py(text)
    ng, mx = _gram_counts(toks, n)
    return len(toks), len(set(toks)), ng, mx


def _gram_counts(toks: list[str], n: int) -> tuple[int, int]:
    """(n_grams, max_gram_count) of the word n-grams of ``toks`` —
    word_ngrams semantics: fewer than n tokens → (0, 0)."""
    from collections import Counter

    nw = len(toks)
    if nw < n:
        return 0, 0
    counts = Counter(tuple(toks[i : i + n]) for i in range(nw - n + 1))
    return nw - n + 1, max(counts.values())


def word_gram_stats_multi_expr(text: Column | str) -> Column:
    """Multi-n sibling of :func:`word_gram_stats_expr`: ONE tokenization
    pass feeding gram stats for every n in ``ns`` (the Gopher-style
    repetition gate reads several gram orders per document; three
    separate kernels would re-tokenize three times). Returns
    struct<n_words, n_distinct_words, n_grams_{n}, max_gram_count_{n}…>
    with the same NULL-propagation contract as the single-n kernel."""
    fields = ["n_words: long", "n_distinct_words: long"]
    for n in (2, 3, 4):
        fields += [f"n_grams_{n}: long", f"max_gram_count_{n}: long"]
    cols = ["n_words", "n_distinct_words"] + [
        c for n in (2, 3, 4) for c in (f"n_grams_{n}", f"max_gram_count_{n}")
    ]

    @F.pandas_udf("struct<" + ", ".join(fields) + ">")
    def _u(s: pd.Series) -> pd.DataFrame:
        rows = []
        for x in s:
            if x is None:
                rows.append((None,) * len(cols))
                continue
            toks = word_tokens_py(x)
            row: list = [len(toks), len(set(toks))]
            for n in (2, 3, 4):
                row.extend(_gram_counts(toks, n))
            rows.append(tuple(row))
        return pd.DataFrame(rows, columns=cols, dtype="object")

    return _u(_c(text))


def word_gram_stats_expr(text: Column | str, n: int = 2) -> Column:
    """Arrow-batched kernel twin of ``word_ngrams(n)`` + per-gram counts
    + the word and distinct-word counts, as ONE map-side struct
    ``struct<n_words, n_distinct_words, n_grams, max_gram_count>``.

    The declarative formulation (explode word_ngrams → two groupBy
    shuffles) stays as the oracle next door; this is the hot path — the
    higher-order ``transform``/``array_join`` gram construction runs
    INTERPRETED per element (the CLAUDE.md kernel-twin rule), and the
    per-doc gram stats need no cross-doc state, so a numpy/Counter pass
    per Arrow batch removes both the per-row expression cost and the two
    shuffles entirely. Equivalence-tested against the expression path in
    tests/test_kernel_equivalence.py."""

    @F.pandas_udf(
        "struct<n_words: long, n_distinct_words: long,"
        " n_grams: long, max_gram_count: long>"
    )
    def _u(s: pd.Series) -> pd.DataFrame:
        rows = [word_gram_stats_py(x, n) for x in s]
        return pd.DataFrame(
            rows,
            columns=[
                "n_words",
                "n_distinct_words",
                "n_grams",
                "max_gram_count",
            ],
            dtype="object",
        )

    return _u(_c(text))


_LINE_STRIP_CHARS = " \t\r"  # cross-engine trim set: space, tab, CR
_PARA_SPLIT_RE = "\n{2,}"  # blank-line paragraph boundary (Java & RE2)


def line_stats_py(
    text: str | None,
) -> tuple[int | None, ...]:
    """Python twin of the line/paragraph repetition expression pipeline —
    per document ``(n_lines, dup_lines, line_chars, dup_line_chars,
    n_paras, dup_paras, para_chars, dup_para_chars)``, the inputs to the
    Gopher §A1.1 line-level gates (Rae et al. '21: duplicate-line
    fraction, duplicate-paragraph fraction, and the
    fraction-of-characters-in-duplicate-X variants).

    Contract (identical across this kernel, the declarative explode
    formulation, and the DuckDB oracles):

    - lines split on '\\n'; paragraphs on the blank-line regex
      ``\\n{2,}``;
    - each piece trims ``[ \\t\\r]`` at both ends (NOT python
      ``str.strip()`` — DuckDB ``trim(x, chars)`` and Spark
      ``regexp_replace`` can only match this explicit set) and empty
      pieces drop;
    - matching is EXACT post-trim (no lowercasing — Gopher dedups exact
      lines);
    - ``dup_*`` counts every occurrence of a value whose count > 1
      (the Dolma/Gopher convention), ``*_chars`` weight by piece length;
    - NULL text → all-NULL (downstream ratios null-propagate).
    """
    if text is None:
        return (None,) * 8
    import re
    from collections import Counter

    def stats(pieces: list[str]) -> tuple[int, int, int, int]:
        items = [p.strip(_LINE_STRIP_CHARS) for p in pieces]
        items = [p for p in items if p]
        counts = Counter(items)
        n = len(items)
        chars = sum(len(x) for x in items)
        dup = sum(v for v in counts.values() if v > 1)
        dup_chars = sum(len(x) * v for x, v in counts.items() if v > 1)
        return n, dup, chars, dup_chars

    return stats(text.split("\n")) + stats(re.split(_PARA_SPLIT_RE, text))


_LINE_STATS_FIELDS = (
    "n_lines",
    "dup_lines",
    "line_chars",
    "dup_line_chars",
    "n_paras",
    "dup_paras",
    "para_chars",
    "dup_para_chars",
)


def line_stats_expr(text: Column | str) -> Column:
    """Arrow-batched kernel twin of the explode-lines → per-value counts
    → dup aggregation pipeline, as ONE map-side struct (same shape as
    the word-gram kernels: per-doc stats need no cross-doc state, so a
    Counter pass per Arrow batch replaces two shuffles per split level).
    Equivalence-tested against the declarative formulation in
    tests/test_kernel_equivalence.py."""

    @F.pandas_udf(
        "struct<" + ", ".join(f"{f}: long" for f in _LINE_STATS_FIELDS) + ">"
    )
    def _u(s: pd.Series) -> pd.DataFrame:
        rows = [line_stats_py(x) for x in s]
        return pd.DataFrame(rows, columns=list(_LINE_STATS_FIELDS), dtype="object")

    return _u(_c(text))


def word_entropy_py(
    text: str | None,
) -> tuple[int | None, int | None, float | None]:
    """Python twin of the vocabulary-entropy pipeline — per document
    ``(n_tokens, n_distinct, entropy_nats)`` where entropy is the
    Shannon entropy of the document's unigram distribution in nats:
    ``H = ln(n) - (Σ_w c_w·ln(c_w)) / n``. The second form is what the
    declarative explode → per-word counts → agg formulation (and the
    DuckDB oracle) computes, so the kernel mirrors it term-for-term.

    Tokenization is :func:`word_tokens_py` (the canonical cross-engine
    contract). NULL text → all-NULL; zero tokens → (0, 0, NULL) — a
    0-token document has no distribution, and NULL keeps downstream
    gates null-propagating instead of inventing H=0 (identical to the
    oracle's NULLIF(n,0) guard). H is irrational for any non-uniform
    document, so 6dp-rounded exports are tie-free (the decimal-mean
    rule's irrational-value carve-out)."""
    import math

    if text is None:
        return None, None, None
    toks = word_tokens_py(text)
    n = len(toks)
    if n == 0:
        return 0, 0, None
    from collections import Counter

    counts = Counter(toks)
    lnsum = sum(c * math.log(c) for c in sorted(counts.values()))
    return n, len(counts), math.log(n) - lnsum / n


def word_entropy_stats_expr(text: Column | str) -> Column:
    """Arrow-batched kernel twin of the explode → per-(doc, word) count →
    per-doc entropy aggregation, as ONE map-side struct
    ``struct<n_tokens, n_distinct, entropy_nats>`` — per-doc vocabulary
    stats need no cross-doc state, so the Counter pass replaces two
    shuffles (the CLAUDE.md kernel-twin discipline; the declarative
    formulation survives as the DuckDB oracle and the pytest
    equivalence target). ``c·ln(c)`` terms are summed over SORTED counts
    so the kernel is batch-order deterministic."""

    @F.pandas_udf(
        "struct<n_tokens: long, n_distinct: long, entropy_nats: double>"
    )
    def _u(s: pd.Series) -> pd.DataFrame:
        rows = [word_entropy_py(x) for x in s]
        return pd.DataFrame(
            rows, columns=["n_tokens", "n_distinct", "entropy_nats"], dtype="object"
        )

    return _u(_c(text))


def bpe_budget_stats_expr(text: Column | str, budget_tokens: int) -> Column:
    """F10+F11 fused: struct(n_tok, kept_tok, kept_chars) in ONE
    Arrow-batched pass (one pre-tokenization scan per document instead
    of three — see functions.bpe.bpe_budget_stats)."""

    @F.pandas_udf("struct<n_tok: long, kept_tok: long, kept_chars: long>")
    def _u(s: pd.Series) -> pd.DataFrame:
        from .bpe import bpe_budget_stats

        rows = [bpe_budget_stats(x, budget_tokens) for x in s]
        return pd.DataFrame(rows, columns=["n_tok", "kept_tok", "kept_chars"])

    return _u(_c(text))
