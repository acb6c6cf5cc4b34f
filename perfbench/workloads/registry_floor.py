"""registry-floor: registry queries on tiny tables, where the per-query floor
(Python plan build, Py4J round trips, eager jobs, Catalyst, job and stage
scheduling) is the cost, not the data.

Set-up writes the ten registry tables at the sf0.001 shape from the seed.
Each round runs every query in ``QUERIES`` once, in an order drawn from the
seed, through ``__spark_entry__.queries()`` into the noop sink, releases its
caches and checks nothing is left persisted. The untimed warm pass collects
every query with ``toPandas`` and compares it with its ``oracle_sql()``
DuckDB twin using ``tools/check_correctness.py``'s comparison; a query whose
output is wrong fails every time it runs.
"""

from __future__ import annotations

import os
import random
import sys
import time

from .. import datagen, stats
from ..harness import leak_check

# Frozen list. Four are drawn by rule: the registry queries, in registry
# order, that matched their oracle on the seed-1 tables, ran warm in under
# 1 s on 4 cores and write no files (the s*_roundtrip queries write to a fixed
# /tmp path), taking every 20th of the 73 that qualified. Two are added by
# name: prologue_report, the notebook prologue through
# plans.analytics_prologue, and j7_nearest_centroid, the reference's core
# operation through the functions.vector kernels.
QUERIES = (
    "dedup_exact_stats", "evt_cube", "ann_topk", "pack_batches",
    "prologue_report", "j7_nearest_centroid",
)


class RegistryFloor:
    name = "registry-floor"
    primary = "query"

    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.wrong: dict[str, str] = {}

    def setup(self, rep: int) -> None:
        self.data = datagen.write_registry_tables(os.path.join(self.work, f"tables-{rep}"), self.seed)

    def warm(self) -> float:
        """Run and check every query once. Returns the seconds spent in the
        engine (oracle and comparison time excluded)."""
        os.environ["SPARK_GRAFT_SF_DIR"] = self.data
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.data
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        sys.path.insert(0, os.path.join(root, "tools"))
        import duckdb
        from check_correctness import _canon, _values_match

        import __spark_entry__ as entry
        from vector_search_optimization_spark.operators.dedup import release_caches

        self.fns = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in datagen.REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        spent = 0.0
        for name in QUERIES:
            t0 = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.data)
                got = df.toPandas()
                release_caches(df)
            except Exception as e:  # noqa: BLE001
                self.wrong[name] = f"spark error {type(e).__name__}: {e}"
                continue
            finally:
                spent += time.perf_counter() - t0
            ok, why = _values_match(_canon(got), _canon(con.sql(oracles[name]).df()))
            if not ok:
                self.wrong[name] = f"differs from oracle: {why}"
        con.close()
        return spent

    def _query(self, name: str) -> dict:
        from vector_search_optimization_spark.operators.dedup import release_caches

        tr, op = self.tracer, {"kind": "query", "name": name, "ok": True, "err": None}
        df = None
        t0 = time.perf_counter()
        try:
            with tr.span(name, "bench") as rec:
                op["span"] = rec["id"] if rec else None
                with tr.span("build", "entry") as b:
                    df = self.fns[name](self.spark, self.data)
                op["build_s"] = time.perf_counter() - t0
                if tr.enabled:
                    with tr.span("plan", "spark") as p:
                        df._jdf.queryExecution().executedPlan()
                    op["plan_s"] = p["end"] - p["start"]
                with tr.span("exec", "spark"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            op.update(ok=False, err=f"{type(e).__name__}: {e}")
        op["t"] = time.perf_counter() - t0
        if tr.enabled:
            op["eager_jobs"] = b.get("jobs_tracked", 0)
            op["py4j"] = b["py4j"]
        if df is not None:
            release_caches(df)
        if name in self.wrong:
            op.update(ok=False, err=self.wrong[name])
        leak_check(self.spark, op)
        return op

    def round(self, r: int) -> list[dict]:
        order = list(QUERIES)
        random.Random(self.seed * 1_000_003 + r).shuffle(order)
        return [self._query(name) for name in order]

    def finish(self) -> list[str]:
        return [f"{k}: {v}" for k, v in sorted(self.wrong.items())]

    def report(self, ops: list[dict], run: dict) -> dict:
        q = [op["t"] for op in ops if op["ok"]]
        tail = stats.tail(q)
        per_query = {}
        for op in ops:
            per_query.setdefault(op["name"], []).append(op["t"])
        return {
            "queries_per_s": {"value": len(q) / run["measured_s"], "unit": "1/s"},
            "query_p50_s": {"value": stats.median(q), "unit": "s"},
            "query_tail_s": tail and {"value": tail["value"], "unit": "s",
                                      "percentile": tail["percentile"], "n": tail["n"]},
            "query_p50_by_name_s": {k: round(stats.median(v), 4) for k, v in sorted(per_query.items())},
        }

    def layers(self, ops: list[dict]) -> dict:
        ok = [op for op in ops if op["ok"]] or ops
        return {
            "entry.build_s": stats.median([op["build_s"] for op in ok if "build_s" in op]),
            "entry.eager_jobs": sum(op.get("eager_jobs", 0) for op in ok) / max(1, len(ok)),
            "entry.py4j_calls": sum(op.get("py4j", 0) for op in ok) / max(1, len(ok)),
            "spark.plan_s": stats.median([op["plan_s"] for op in ok if "plan_s" in op]),
        }
