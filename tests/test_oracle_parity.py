"""Fast oracle-parity gate: every registry query vs DuckDB at sf0.001.

The driver runs the same comparison at sf0.01 (CORRECTNESS_r{N}.json); this
keeps the contract green during development.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMALL
from vector_search_optimization_spark.session import release_caches

# generated (data-dependent) oracles must derive their literals from the
# sf this gate evaluates against — set before oracle_sql() is called
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_SMALL

import __spark_entry__ as entrymod  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    try:
        sdf = _canon(fn(spark, SF_SMALL).toPandas())
    finally:
        # every query pays for its own caches, as in bench.py
        release_caches(spark.range(1))
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = _canon(duck.sql(sql).df())
    assert list(sdf.columns) == list(ddf.columns)
    assert len(sdf) == len(ddf)
    for c in sdf.columns:
        a, b = sdf[c], ddf[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            af = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            bf = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            assert (
                np.isclose(af, bf, rtol=1e-9, atol=1e-9) | (np.isnan(af) & np.isnan(bf))
            ).all(), f"col {c}"
        else:
            assert (a.astype(str) == b.astype(str)).all(), f"col {c}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_audit_order_is_changed_first_then_oldest_audit():
    """queries() runs in audit order: the queries changed since the last
    audit, as listed, then the rest by latest audit round (recomputed
    here from the committed CORRECTNESS_r*.json; never audited = 0),
    oldest first, ties in the registry literal's order."""
    import json
    from pathlib import Path

    names = list(entrymod.queries())
    literal = list(entrymod._QUERIES)
    assert len(literal) == 292
    assert sorted(names) == sorted(literal)
    assert len(set(names)) == len(names)

    changed = list(entrymod._CHANGED_SINCE_AUDIT)
    assert names[: len(changed)] == changed

    latest: dict[str, int] = {}
    for path in Path(entrymod.__file__).parent.glob("CORRECTNESS_r*.json"):
        n = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            latest[name] = max(latest.get(name, 0), n)
    assert latest, "no committed CORRECTNESS_r*.json"
    rest = names[len(changed):]
    rounds = [latest.get(name, 0) for name in rest]
    assert rounds == sorted(rounds)
    ties = [(latest.get(name, 0), literal.index(name)) for name in rest]
    assert ties == sorted(ties)


# Queries whose rounded means are over IRRATIONAL values (sqrt norms /
# distances, silhouettes, Mahalanobis, -ln scores) — a decimal rounding
# tie is measure-zero there, so round(avg(...)) is allowed. Everything
# else must follow the derived-ratio pattern (CLAUDE.md decimal-tie
# rule): tie-free rounded sum (or exact integer sum) + count, avg
# derived UNROUNDED.
_IRRATIONAL_MEAN_OK = {
    "s1_csv_roundtrip",        # avg of L2 norms (sqrt)
    "m2_silhouette",           # avg silhouette (ratio of distances)
    "m11_spectral_embedding",  # avg of spectral coords
    "p8_null_tolerant",        # avg of L2 norms (sqrt)
    "m4_grid_sweep",           # per-combo avg silhouette
    "j7_nearest_centroid",     # avg euclidean distance
    "m9_mahalanobis_outliers", # avg Mahalanobis distance (sqrt)
    "lm_quality_scores",       # avg -ln surprisal
    "curation_pipeline",       # avg -ln surprisal
    "doc_bigram_lm",           # avg -ln interpolated bigram surprisal
    "emb_jl_projection_audit",  # avg of projected/exact distance ratios
                                # (irrational float-sum quotients)
}


def test_no_new_rounded_mean_exports():
    """Regression guard for the decimal-tie rule (the evt_gap_fill /
    tokenizer_fertility incident class): no oracle may export
    round(avg(...)) unless the averaged values are irrational
    (whitelist above). A new offender here is one testdata regeneration
    away from a HALF_UP-vs-float-repr hash flap."""
    import re

    offenders = [
        name
        for name, sql in entrymod.oracle_sql().items()
        if name not in _IRRATIONAL_MEAN_OK
        and re.search(r"round\(\s*avg\(", sql, re.IGNORECASE)
    ]
    assert not offenders, offenders


def test_no_two_queries_share_an_oracle():
    """Guard for the module-level SQL-variable rebinding bug class
    (evt_arrival_burstiness initially rebound text_word_burstiness's
    _BURSTINESS_SQL and silently redirected its registry entry):
    every registered oracle text must be unique."""
    import __spark_entry__ as m

    # decontaminate_bloom is the approximate path audited against the
    # SAME exact-overlap ground truth as decontaminate_overlap — the
    # one legitimate shared oracle.
    allowed_shared = {
        frozenset({"decontaminate_bloom", "decontaminate_overlap"}),
        # the EP3 pipeline's audit stage is value-checked against the
        # same Lloyd-audit oracle — long-established shared ground truth
        frozenset({"ep3_lloyd_audit", "ep3_label_pipeline"}),
    }
    texts = {}
    for name, sql in m.oracle_sql().items():
        if sql in texts and frozenset({name, texts[sql]}) not in allowed_shared:
            raise AssertionError(
                f"{name} and {texts[sql]} share identical oracle SQL"
            )
        texts[sql] = name


def test_no_sql_oracle_variable_assigned_twice():
    """VERDICT r9 item 7: close the rebinding bug class STATICALLY.

    The runtime guards above catch two REGISTERED entries sharing one
    oracle, but the r9 incident's mechanism was a module-level variable
    collision (`evt_funnel_conversion` re-assigned `_FUNNEL_SQL`,
    silently redirecting `evt_funnel`'s entry until the full gate
    flagged it). Parse the module source and assert every module-level
    `_*_SQL` name is assigned exactly once — the collision is then a
    test failure at commit time even if only one of the two queries is
    currently registered."""
    import ast

    import __spark_entry__ as m

    src = open(m.__file__, encoding="utf-8").read()
    seen: dict[str, int] = {}
    dupes: list[str] = []
    for node in ast.parse(src).body:  # module level only
        targets = []
        if isinstance(node, ast.Assign):
            targets = [t for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            targets = [node.target]
        for t in targets:
            if t.id.startswith("_") and t.id.endswith("_SQL"):
                if t.id in seen:
                    dupes.append(
                        f"{t.id} assigned at lines {seen[t.id]} and "
                        f"{node.lineno}"
                    )
                seen[t.id] = node.lineno
    assert not dupes, dupes


def test_no_two_queries_share_an_oracle_callable():
    """VERDICT r8 item 7: the same rebinding bug class for GENERATOR
    oracles — two registry entries bound to the same callable object
    means a copy-paste rebound one of them (a shared callable always
    resolves to identical text, but catching the object identity names
    the bug directly at its source)."""
    import __spark_entry__ as m

    # same whitelist as the text check: bloom is audited against the
    # SAME exact-overlap ground truth generator as overlap by design
    allowed_shared = {
        frozenset({"decontaminate_bloom", "decontaminate_overlap"}),
    }
    seen: dict[int, str] = {}
    for name, (_, sql) in m._REGISTRY.items():
        if callable(sql):
            if (
                id(sql) in seen
                and frozenset({name, seen[id(sql)]}) not in allowed_shared
            ):
                raise AssertionError(
                    f"{name} and {seen[id(sql)]} share the same oracle "
                    "generator callable"
                )
            seen[id(sql)] = name
