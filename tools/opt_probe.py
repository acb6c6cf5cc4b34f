"""Per-query timing probe for the optimization round: times named
registry queries through the noop sink (cold + min-of-2 warm), one
JSON line per query. Unlike bench.py this targets a handful of
queries, so before/after comparisons don't need a full suite run.

Usage: python tools/opt_probe.py <query> [query ...]   [-n WARMRUNS]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from vector_search_optimization_spark.session import get_spark, release_caches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n_warm = 2
    if "-n" in args:
        i = args.index("-n")
        n_warm = int(args[i + 1])
        del args[i : i + 2]
    names = args
    spark = get_spark("opt_probe")
    qs = entrymod.queries()

    # same untimed warmup spirit as bench.py: pay one-time engine init
    # (Arrow worker fork, codegen of a trivial plan) before timing
    entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    entrymod.prepare(spark, SF_DIR)

    def timed(name: str) -> float:
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        release_caches(df)
        return dt

    for name in names:
        cold = timed(name)
        warm = min(timed(name) for _ in range(n_warm))
        print(
            json.dumps(
                {"query": name, "cold": round(cold, 3), "warm": round(warm, 3)}
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
