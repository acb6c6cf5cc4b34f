"""Scale probe for the r6b operators: PageRank, snapshot diff (CDC) and
the exact two-sample KS statistic — the three new surfaces whose cost
curves aren't already covered by the dedup/curation probes
(keep_best_duplicate_groups shares canonical_duplicate_groups' probed
connected-components path plus a members-only window, so it inherits
that curve).

All inputs are generated IN-PLAN from spark.range + hash math (no
rand(), no driver-side materialization, nothing written to disk), so
the probe measures operator cost, not generator IO:

- pagerank: undirected graph, N nodes x avg degree 10 (edges via
  affine maps of the node id), 8 fixed iterations.
- snapshot_diff: N-row keyed table, ~1/3 removed, ~1/5 added, ~1/7
  changed, classify + per-class agg.
- ks_two_sample: N rows over 20 groups, values on a 1,000-point grid
  (the per-group window input is CARDINALITY-bounded — the point of
  the design), cohort tag by key parity.

Usage: python tools/probe_graph_cdc_ks.py [SCALE ...]
(default: 10 100 — base unit is 100k rows/edges). Emits one JSON line
per SCALE: per-stage seconds + output counts. Watch the growth SHAPE
between scales, not absolute numbers (CLAUDE.md: noisy neighbors).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_search_optimization_spark.operators import drift, upsert
from vector_search_optimization_spark.operators import graph as GR
from vector_search_optimization_spark.session import get_spark, release_caches

SCALES = [int(a) for a in sys.argv[1:]] or [10, 100]
BASE = 100_000


def _probe(spark, scale: int) -> dict:
    n = BASE * scale
    out: dict = {"scale": scale, "rows": n}

    # --- pagerank: n/10 nodes, n edges (avg degree ~20 symmetrized)
    n_nodes = max(n // 10, 10)
    edges = (
        spark.range(n)
        .select(
            (F.col("id") % n_nodes).alias("src"),
            ((F.col("id") * 2654435761 + 40503) % n_nodes).alias("dst"),
            ((F.col("id") % 5) + 1).cast("double").alias("weight"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    verts = spark.range(n_nodes).select(F.col("id"))
    t0 = time.time()
    pr = GR.pagerank(edges, verts)
    # sum(rank), not count(): count lets Catalyst prune the rank column
    # and with it most of the iteration math
    out["pagerank_mass"] = round(pr.agg(F.sum("rank")).first()[0], 6)
    out["pagerank_s"] = round(time.time() - t0, 1)
    release_caches(pr)

    # --- snapshot diff: all four classes populated
    base = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).cast("string").alias("s"),
        ((F.col("id") * 48271) % 1_000_000).alias("v"),
    )
    old = base.where(F.col("k") % 3 != 0)
    new = base.where(F.col("k") % 5 != 0).withColumn(
        "v", F.when(F.col("k") % 7 == 0, F.col("v") + 1).otherwise(F.col("v"))
    )
    t0 = time.time()
    diff = (
        upsert.snapshot_diff(old, new, ["k"], ["s", "v"])
        .groupBy("change_type")
        .count()
    )
    out["cdc_classes"] = {r["change_type"]: r["count"] for r in diff.collect()}
    out["cdc_s"] = round(time.time() - t0, 1)

    # --- KS: 20 groups, 1,000-point value grid, parity cohorts
    # cohort tag must be independent of the group key: id%2 would be
    # DETERMINED by id%20 (2 | 20 — every group single-cohort, all
    # dropped), so tag on the id-div-20 stripe instead
    ev = spark.range(n).select(
        (F.col("id") % 20).cast("string").alias("g"),
        (((F.col("id") * 69621) % 1000) / 10.0).alias("value"),
        ((F.col("id") / 20).cast("long") % 2 == 0).alias("is_a"),
    )
    t0 = time.time()
    ks = drift.ks_two_sample(ev, "g", "value", "is_a")
    out["ks_rows"] = ks.count()
    out["ks_s"] = round(time.time() - t0, 1)
    return out


def main() -> None:
    spark = get_spark("probe-graph-cdc-ks")
    spark.sparkContext.setLogLevel("ERROR")
    _probe(spark, 1)  # untimed warmup: absorb codegen/engine init
    for scale in SCALES:
        print(json.dumps(_probe(spark, scale)), flush=True)


if __name__ == "__main__":
    main()
