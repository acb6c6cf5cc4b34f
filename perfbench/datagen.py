"""Seeded input generators. The same seed gives byte-identical inputs.

Three input families, one per workload:

- ``write_registry_tables``: the ten TPC-H-ish tables the registry queries
  read (region … lineitem, events, documents, embeddings), with the column
  names, types and value ranges of the engine's sf0.001 test tables.
- ``refscale_corpus``: chunk embeddings in the reference shape (5,755 chunks
  over 1,190 documents, k=37 latent clusters), at a reduced dimension.
- ``ivf_inputs``: a base corpus, append batches and probe vectors for the
  IVF ingest workload.

Everything is drawn from one ``numpy.random.RandomState(seed)`` per family,
so a generator's output depends on nothing but its arguments.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGISTRY_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(micros + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(seed: int, scale: float = 0.001) -> dict[str, pa.Table]:
    """The ten registry tables at ``scale`` (1.0 = 1.5M orders)."""
    rng = np.random.RandomState(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    day = 86_400

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 450_000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.randint(0, 2404, n_ord) * day),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.randint(0, 5, n_ord)],
    })
    qty = rng.randint(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.randint(0, 2498, n_line) * day),
    })
    # events: one month of sorted, microsecond-resolution timestamps
    gaps = rng.exponential(30 * day / n_evt, n_evt)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array(rng.randint(0, 15, n_evt), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.randint(0, 5, n_evt)],
        "value": np.round(rng.gamma(4.0, 25.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_evt)],
    })
    # documents: word soup with ~10% near-duplicates (a few words edited)
    # and ~2% exact duplicates, so the dedup family finds real pairs
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.rand()
        if i > 10 and r < 0.02:
            texts.append(texts[rng.randint(0, i)])
        elif i > 10 and r < 0.12:
            words = texts[rng.randint(0, i)].split()
            for _ in range(rng.randint(1, 4)):
                words[rng.randint(0, len(words))] = _WORDS[rng.randint(0, len(_WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_WORDS[j] for j in rng.randint(0, len(_WORDS), rng.randint(10, 100))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.randint(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.randint(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    # embeddings: 64-dim, 10 labelled gaussian clusters
    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.randint(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_registry_tables(out_dir: str, seed: int, scale: float = 0.001) -> str:
    """Write the registry tables as ``<out_dir>/<name>.parquet`` (one row
    group each, like the engine's test tables); returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- reference-shape corpus --------------------------------------------------

REF_CHUNKS = 5_755
REF_DOCS = 1_190
REF_K = 37


def refscale_corpus(seed: int, dim: int) -> dict[str, np.ndarray]:
    """Chunks in the reference shape: 5,755 chunks over 1,190 documents,
    k=37 unit-norm cluster centers, 80% of a document's chunks on its home
    cluster. Returns numpy arrays (vectors float32)."""
    rng = np.random.RandomState(seed)
    centers = rng.normal(size=(REF_K, dim)).astype(np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    doc_cluster = rng.randint(0, REF_K, size=REF_DOCS)
    doc_of_chunk = np.concatenate(
        [np.arange(REF_DOCS), rng.randint(0, REF_DOCS, size=REF_CHUNKS - REF_DOCS)]
    )
    cats = np.array(["document", "calendar", "site", "table"])
    cat_of_doc = cats[rng.choice(4, size=REF_DOCS, p=[0.59, 0.28, 0.115, 0.015])]
    alt = rng.randint(0, REF_K, size=REF_CHUNKS)
    home = doc_cluster[doc_of_chunk]
    cluster = np.where(rng.rand(REF_CHUNKS) < 0.8, home, alt)
    noise = rng.normal(scale=0.25 / np.sqrt(dim), size=(REF_CHUNKS, dim))
    vecs = (centers[cluster] + noise).astype(np.float32)
    return {
        "centers": centers,
        "vectors": vecs,
        "doc_of_chunk": doc_of_chunk,
        "category": cat_of_doc[doc_of_chunk],
    }


# --- IVF ingest inputs -------------------------------------------------------


def _ivf_topics(seed: int, dim: int, n_topics: int) -> np.ndarray:
    t = np.random.RandomState(seed).normal(size=(n_topics, dim))
    return t / np.linalg.norm(t, axis=1, keepdims=True)


def _ivf_draw(rng, topics: np.ndarray, n: int) -> np.ndarray:
    dim = topics.shape[1]
    t = rng.randint(0, len(topics), n)
    return (topics[t] + rng.normal(scale=0.5 / np.sqrt(dim), size=(n, dim))).astype(np.float32)


def ivf_base(seed: int, dim: int, n_base: int, n_probes: int, n_topics: int = 32) -> dict[str, np.ndarray]:
    """Base corpus and probe vectors, drawn around ``n_topics`` topic
    centers that the append batches share."""
    rng = np.random.RandomState(seed + 1)
    topics = _ivf_topics(seed, dim, n_topics)
    return {"base": _ivf_draw(rng, topics, n_base), "probes": _ivf_draw(rng, topics, n_probes)}


def ivf_batch(seed: int, dim: int, i: int, rows: int, n_topics: int = 32) -> np.ndarray:
    """Append batch ``i``; each batch has its own stream of draws, so a run
    can take as many batches as its time allows."""
    rng = np.random.RandomState([seed, 2, i])
    return _ivf_draw(rng, _ivf_topics(seed, dim, n_topics), rows)
