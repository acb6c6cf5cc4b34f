import hashlib
import os

import numpy as np

from perfbench import datagen


def _digest(out_dir):
    h = hashlib.sha256()
    for name in datagen.REGISTRY_TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_registry_tables_follow_the_seed(tmp_path):
    a = _digest(datagen.write_registry_tables(str(tmp_path / "a"), seed=5))
    b = _digest(datagen.write_registry_tables(str(tmp_path / "b"), seed=5))
    c = _digest(datagen.write_registry_tables(str(tmp_path / "c"), seed=6))
    assert a == b
    assert a != c


def test_registry_tables_have_the_test_table_shape():
    t = datagen.registry_tables(seed=1)
    assert {k: v.num_rows for k, v in t.items()} == {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
        "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
    }
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert t["documents"]["n_chars"].to_pylist() == [len(s) for s in t["documents"]["text"].to_pylist()]


def test_refscale_corpus_follows_the_seed():
    a, b, c = (datagen.refscale_corpus(s, dim=16) for s in (3, 3, 4))
    assert a["vectors"].shape == (datagen.REF_CHUNKS, 16)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["vectors"], c["vectors"])
    assert len(np.unique(a["doc_of_chunk"])) == datagen.REF_DOCS


def test_ivf_inputs_follow_the_seed():
    a, b, c = (datagen.ivf_base(s, dim=8, n_base=50, n_probes=5) for s in (3, 3, 4))
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["base"], c["base"])
    assert np.array_equal(datagen.ivf_batch(3, 8, 2, 10), datagen.ivf_batch(3, 8, 2, 10))
    assert not np.array_equal(datagen.ivf_batch(3, 8, 2, 10), datagen.ivf_batch(3, 8, 3, 10))
    assert not np.array_equal(datagen.ivf_batch(3, 8, 2, 10), datagen.ivf_batch(4, 8, 2, 10))
