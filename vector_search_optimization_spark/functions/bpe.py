"""Byte-level BPE tokenizer (F10/F11) — no tokenizer dependency.

The reference counts tokens with tiktoken for its LLM prompt budget
(update-etiquetas.ipynb:171 c9). tiktoken is absent from this container,
so this module implements the public byte-pair-encoding algorithm itself
(Sennrich et al. 2016; byte-level pre-tokenization as in GPT-2):

- ``pretokenize``: the GPT-2-style regex split (contractions, space-led
  letter runs, digit runs, punctuation runs, trailing whitespace).
- ``bpe_encode`` / ``bpe_token_count``: greedy lowest-rank pair merging
  over each pre-token's utf-8 bytes, against the committed merges table
  in ``bpe_merges.py`` (generated by ``train_bpe`` on the seed corpus
  below — re-runnable, deterministic, checked by tests).
- ``train_bpe``: the textbook training loop (most-frequent adjacent pair,
  lexicographic tie-break), kept so the committed table is reproducible.

One python implementation is shared by the Spark pandas UDF
(functions.text.bpe_token_count) and the DuckDB oracle generators, so
engine/oracle parity is by construction, not by reimplementation.

Counts from a ~500-merge vocab are NOT tiktoken's counts — they are real
BPE counts over a small vocab (more tokens per text than cl100k would
give). The budget-gating semantics (F11) are identical; swapping in a
larger public merges table is a data change, not a code change.
"""

from __future__ import annotations

import re
from functools import lru_cache

# GPT-2's pre-tokenizer, expressed with explicit classes (python `re` has
# no \p{L}): contractions, space-led letter runs, space-led digit runs,
# space-led punctuation runs, then whitespace (kept as tokens only when
# it does not precede a non-space, i.e. trailing / inter-word runs >1).
_LETTER = "A-Za-zÀ-ɏͰ-ϿЀ-ӿ"
_PRETOK = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    rf"| ?[{_LETTER}]+"
    r"| ?[0-9]+"
    rf"| ?[^\s{_LETTER}0-9]+"
    r"|\s+(?!\S)|\s+"
)

# Seed corpus for the committed merges table: plain descriptive English
# authored for this repo (public), long enough that common English pairs
# (th, he, in, er, space-prefixed function words) earn merges.
SEED_CORPUS = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and the cat sat on the mat with a hat "
    "data pipelines read documents and count tokens for the model budget "
    "every document in the corpus is scored filtered and deduplicated "
    "the engine joins tables aggregates groups and sorts the results "
    "a vector search index returns the nearest neighbors for a query "
    "streams of events arrive late and watermarks bound the state "
    "this is the small seed text that trains the committed merges table "
    "numbers like 1024 2048 4096 and marks like :, ., !, ? appear too "
    "some words repeat because frequency drives which pairs merge first "
    "reading writing counting sorting joining grouping filtering mapping "
    # data-engineering register, the domain this engine tokenizes most
    "scan filter project join group aggregate window sort limit union "
    "table column row value key hash partition shuffle broadcast merge "
    "query plan batch stream spark data frame parquet schema type cast "
    "the scan reads the table and the filter keeps the matching rows "
    "the join matches keys and the group by aggregates the values "
    "a window orders rows in a partition and a sort orders the output "
    "big small fast slow wide narrow long short first last next prev "
    "customer order line item part supplier nation region event vector "
    "the query plans the scan the join the group and the sort stages "
    "tokens bytes chars words lines pages blocks chunks slices spans"
)


def pretokenize(text: str) -> list[str]:
    """Split text into BPE pre-tokens (GPT-2-style regex family)."""
    return _PRETOK.findall(text)


def train_bpe(corpus: str) -> list[tuple[bytes, bytes]]:
    """Textbook BPE training: count adjacent symbol pairs over the
    pre-token frequency table, repeatedly merge the most frequent pair
    (ties broken lexicographically so the table is deterministic)."""
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


def _ranks() -> dict[tuple[bytes, bytes], int]:
    from .bpe_merges import MERGES

    return {pair: i for i, pair in enumerate(MERGES)}


_RANKS: dict[tuple[bytes, bytes], int] | None = None


def _get_ranks() -> dict[tuple[bytes, bytes], int]:
    global _RANKS
    if _RANKS is None:
        _RANKS = _ranks()
    return _RANKS


@lru_cache(maxsize=65536)
def _encode_pretoken(tok_bytes: bytes) -> int:
    """Number of BPE tokens for one pre-token (the merge loop)."""
    ranks = _get_ranks()
    parts: list[bytes] = [bytes([b]) for b in tok_bytes]
    while len(parts) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        merged = parts[best_i] + parts[best_i + 1]
        out: list[bytes] = []
        i = 0
        pair = (parts[best_i], parts[best_i + 1])
        while i < len(parts):
            if i + 1 < len(parts) and (parts[i], parts[i + 1]) == pair:
                out.append(merged)
                i += 2
            else:
                out.append(parts[i])
                i += 1
        parts = out
    return len(parts)


def bpe_token_count(text: str | None) -> int:
    """Exact BPE token count for one string ('' and None count 0)."""
    if not text:
        return 0
    return sum(_encode_pretoken(t.encode("utf-8")) for t in pretokenize(text))


def bpe_truncate(text: str | None, budget_tokens: int) -> str:
    """Longest prefix of whole pre-tokens whose BPE count fits the
    budget — the exact F11 semantics (never splits a pre-token)."""
    if not text:
        return ""
    used = 0
    end = 0
    for m in _PRETOK.finditer(text):
        n = _encode_pretoken(m.group(0).encode("utf-8"))
        if used + n > budget_tokens:
            break
        used += n
        end = m.end()
    return text[:end]


def bpe_budget_stats(text: str | None, budget_tokens: int) -> tuple[int, int, int]:
    """One-pass (total_tokens, kept_tokens, kept_chars) for a budget:
    a single pre-tokenization scan serves the count AND the truncation
    audit (three separate count/truncate/recount passes triple the regex
    scan and, in the Spark UDF, the Arrow round trips). Equivalent to
    (bpe_token_count(t), bpe_token_count(bpe_truncate(t, b)),
    len(bpe_truncate(t, b))) — pytest-pinned."""
    if not text:
        return (0, 0, 0)
    total = 0
    kept = 0
    end = 0
    over = False
    for m in _PRETOK.finditer(text):
        n = _encode_pretoken(m.group(0).encode("utf-8"))
        total += n
        if not over:
            if kept + n > budget_tokens:
                over = True
            else:
                kept += n
                end = m.end()
    return (total, kept, end)
