"""Feature engineering for ML-prep pipelines — the hashing trick
(HashingTF shape): text → fixed-width sparse count vector with NO
vocabulary state, the featurizer that works at any corpus scale because
it needs no fit pass, no broadcast dictionary, and no shuffle at all.

Spark mapping: one Arrow mapInPandas pass builds each document's bucket
counts map-side (token → poly_hash % num_buckets — the engine's shared
SQL-expressible hash, functions.text.poly_hash_py, so the oracle can
recompute every bucket in DuckDB; MLlib's HashingTF uses murmur3, which
has no SQL twin). The sparse vector exports in the canonical
sorted "bucket:count" CSV form the curation queries already use for
cross-engine dict serialization.

100 TB: map-only — cost is one scan, output is bounded by
min(num_buckets, tokens) entries per doc. Collisions are the accepted
hashing-trick tradeoff (dimensionality is the dial); downstream
consumers (linear probe, clustering) read the fixed-width space
directly.
"""

from __future__ import annotations

# module-level import: files defining pandas_udf/mapInPandas batches use
# postponed annotations; a function-local import would break resolution
import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import poly_hash_py


def hashing_trick_features(df: DataFrame, num_buckets: int = 64) -> DataFrame:
    """Per-document hashed bag-of-words: ``(id_col, n_buckets, n_tokens,
    features)`` where features is the sorted ``bucket:count`` CSV of the
    non-zero buckets. Tokenization = lower(trim(text)) split on
    whitespace runs (the engine's standard token rule — identical to
    the oracles' string_split_regex '\\s+' + empty filter). Documents
    with zero tokens produce no row (same as the SQL unnest).

    Zero shuffle: everything happens inside one Arrow batch pass."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, nbs, nts, feats = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"].tolist(), pdf["text"]):
                toks = [
                    t for t in (text or "").strip().lower().split() if t
                ]
                if not toks:
                    continue
                counts: dict[int, int] = {}
                for t in toks:
                    b = poly_hash_py(t) % num_buckets
                    counts[b] = counts.get(b, 0) + 1
                ids.append(doc_id)
                nbs.append(len(counts))
                nts.append(len(toks))
                feats.append(
                    ",".join(
                        f"{b}:{c}" for b, c in sorted(counts.items())
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_buckets": nbs,
                    "n_tokens": nts,
                    "features": feats,
                }
            )

    id_type = dict(df.dtypes)["doc_id"]
    return df.select("doc_id", "text").mapInPandas(
        batches,
        schema=(
            f"`doc_id` {id_type}, n_buckets long, n_tokens long, "
            "features string"
        ),
    )
