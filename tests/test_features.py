"""Hashing-trick featurizer: buckets must equal hand-computed poly-hash
values, empty docs drop, and colliding tokens add their counts."""

from __future__ import annotations

from vector_search_optimization_spark.functions.text import poly_hash_py
from vector_search_optimization_spark.operators.features import (
    hashing_trick_features,
)


def _expected(text: str, nb: int) -> tuple[int, int, str]:
    toks = [t for t in text.strip().lower().split() if t]
    counts: dict[int, int] = {}
    for t in toks:
        b = poly_hash_py(t) % nb
        counts[b] = counts.get(b, 0) + 1
    return (
        len(counts),
        len(toks),
        ",".join(f"{b}:{c}" for b, c in sorted(counts.items())),
    )


def test_hand_hashed_doc_and_empty_drop(spark):
    rows = [
        (1, "The quick brown fox  jumps"),
        (2, "   "),  # whitespace-only → no row
        (3, ""),
        (4, "repeat repeat repeat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_buckets"], r["n_tokens"], r["features"])
        for r in hashing_trick_features(df).collect()
    }
    assert set(got) == {1, 4}
    assert got[1] == _expected(rows[0][1], 64)
    # identical tokens collide into one bucket with count 3
    nb, nt, feats = got[4]
    assert (nb, nt) == (1, 3)
    assert feats == f"{poly_hash_py('repeat') % 64}:3"


def test_collisions_are_additive_at_tiny_width(spark):
    # num_buckets=1: every token lands in bucket 0
    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    [r] = hashing_trick_features(df, num_buckets=1).collect()
    assert (r["n_buckets"], r["n_tokens"], r["features"]) == (1, 5, "0:5")


def test_case_and_whitespace_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Foo\tFOO \n foo")], "doc_id long, text string"
    )
    [r] = hashing_trick_features(df).collect()
    b = poly_hash_py("foo") % 64
    assert (r["n_buckets"], r["n_tokens"], r["features"]) == (1, 3, f"{b}:3")
