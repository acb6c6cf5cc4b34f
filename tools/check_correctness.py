"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and
order-insensitive values (sorted columns, sorted rows, float-tolerant).

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from vector_search_optimization_spark.session import get_spark, release_caches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
# generated (data-dependent) oracles must derive their literals from the
# same sf this gate evaluates against
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def _values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        # The driver's value hash is dtype-strict: an integer column on one
        # side and a float/decimal on the other (e.g. DuckDB sum(BIGINT) ->
        # HUGEINT/DECIMAL) hash differently even when values agree. Mirror
        # that strictness on numeric *kind* so type drift can't pass locally.
        def _kind(dt):
            if np.issubdtype(dt, np.floating):
                return "f"
            if np.issubdtype(dt, np.integer):
                return "i"
            if np.issubdtype(dt, np.bool_):
                return "b"
            return "o"
        ka, kb = _kind(av.dtype), _kind(bv.dtype)
        if ka != kb and "o" not in (ka, kb):
            return False, f"col {c}: dtype kind {av.dtype} vs {bv.dtype}"
        if ka == "o" and kb != "o" and bv.dtype == np.dtype("float64"):
            # DuckDB HUGEINT/DECIMAL128 surfaces as object on one side —
            # the driver would hash-fail this; flag it.
            return False, f"col {c}: dtype kind {av.dtype} vs {bv.dtype}"
        if kb == "o" and ka != "o" and av.dtype == np.dtype("float64"):
            return False, f"col {c}: dtype kind {av.dtype} vs {bv.dtype}"
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            af = pd.to_numeric(a[c], errors="coerce").to_numpy(dtype=float)
            bf = pd.to_numeric(b[c], errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(af) & np.isnan(bf)
            close = np.isclose(af, bf, rtol=1e-9, atol=1e-9) | both_nan
            if not close.all():
                i = int(np.argmin(close))
                return False, f"col {c} row {i}: {af[i]} vs {bf[i]}"
        else:
            if not (av.astype(str) == bv.astype(str)).all():
                neq = av.astype(str) != bv.astype(str)
                i = int(np.argmax(neq))
                return False, f"col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return True, "ok"


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        finally:
            # every query pays for its own caches, as in bench.py
            release_caches(spark.range(1))
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        ok, why = _values_match(_canon(sdf), _canon(ddf))
        status = "OK  " if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(f"{status}  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s] {why if not ok else ''}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match the oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
