"""index-ingest-probe: writes beside reads on a live IVF index.

Set-up builds a seeded IVF index (``ann.train_ivf_centroids`` +
``ann.write_ivf_index``, cell-partitioned parquet). Each round is one cycle:
a seeded batch lands in an inbox and is appended through
``streaming.index_maintenance.stream_append_to_ivf_index`` (availableNow),
then ``PROBES`` seeded ``ann.ivf_topk`` probes run against the index as it
now stands, and every ``COMPACT_EVERY`` cycles ``ann.compact_ivf_cells``
rewrites the fragmented cells. The primary operation is the probe.

Checks, outside the timed region: recall@10 of every probe against the
exact top 10 over the rows the index holds at that moment (numpy; the
engine's ``ann.brute_force_topk`` is checked against the same numpy answer
at the end of the run), and after every compaction the index holds exactly
the base rows plus every appended row, each vec_id once.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from .. import datagen, stats
from ..harness import leak_check

DIM = 64
N_BASE = 1_000
BATCH_ROWS = 500
CELLS = 8
NPROBE = 4
K = 10
PROBES = 5
WARM_PROBES = 1
COMPACT_EVERY = 2
# every append adds one file to each cell it touches, so with this limit
# each compaction rewrites the cells the last two appends touched
MAX_FILES_PER_CELL = 2
RECALL_FLOOR = 0.6
N_PROBE_VECTORS = 256


def _cosine_topk(x: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    s = xn @ (q / np.linalg.norm(q))
    return np.argsort(-s, kind="stable")[:k]


class IngestProbe:
    name = "index-ingest-probe"
    primary = "probe"

    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.streaming_groups: dict[str, int] = {}
        self.problems: list[str] = []

    def setup(self, rep: int) -> None:
        from vector_search_optimization_spark.operators import ann

        inputs = datagen.ivf_base(self.seed, DIM, N_BASE, N_PROBE_VECTORS)
        self.index = os.path.join(self.work, f"ivf-{rep}")
        self.inbox = os.path.join(self.work, f"inbox-{rep}")
        self.checkpoint = os.path.join(self.work, f"checkpoint-{rep}")
        os.makedirs(self.inbox, exist_ok=True)
        base = self._frame(inputs["base"], 0)
        cents = ann.train_ivf_centroids(base, num_cells=CELLS, seed=self.seed)
        ann.write_ivf_index(base, cents, self.index)
        self.vectors = [inputs["base"]]
        self.probe_vectors = inputs["probes"]
        self.n_rows = N_BASE
        self.batches = 0
        self.probes_run = 0

    def _frame(self, vecs: np.ndarray, first_id: int):
        table = pa.table({
            "vec_id": pa.array(np.arange(first_id, first_id + len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        })
        return self.spark.createDataFrame(table.to_pandas(), "vec_id long, embedding array<float>")

    # -- operations -----------------------------------------------------------

    def _append(self) -> dict:
        from vector_search_optimization_spark.streaming.index_maintenance import stream_append_to_ivf_index

        vecs = datagen.ivf_batch(self.seed, DIM, self.batches, BATCH_ROWS)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(self.n_rows, self.n_rows + BATCH_ROWS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }), os.path.join(self.inbox, f"batch-{self.batches:05d}.parquet"))
        op = {"kind": "append", "name": "append", "ok": True, "err": None, "rows": BATCH_ROWS}
        t0 = time.perf_counter()
        with self.tracer.span("append", "streaming") as rec:
            stream = self.spark.readStream.schema("vec_id long, embedding array<float>").parquet(self.inbox)
            q = stream_append_to_ivf_index(stream, self.index, checkpoint=self.checkpoint, trigger_once=True)
            q.awaitTermination()
        op["t"] = time.perf_counter() - t0
        if rec:
            op["span"] = rec["id"]
            self.streaming_groups[str(q.runId)] = rec["id"]
        if q.exception() is not None:
            op.update(ok=False, err=str(q.exception()))
        op["batch_s"] = sum(p["durationMs"].get("triggerExecution", 0) for p in q.recentProgress) / 1000.0
        self.vectors.append(vecs)
        self.n_rows += BATCH_ROWS
        self.batches += 1
        leak_check(self.spark, op)
        return op

    def _probe(self) -> dict:
        from vector_search_optimization_spark.operators import ann

        qv = self.probe_vectors[self.probes_run % len(self.probe_vectors)]
        self.probes_run += 1
        tr = self.tracer
        op = {"kind": "probe", "name": "probe", "ok": True, "err": None,
              "index_files": sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(self.index, "corpus"))
                                 for f in fs)}
        t0 = time.perf_counter()
        with tr.span("probe", "operators") as rec:
            with tr.span("ivf_topk", "operators"):
                indexed, cents = ann.load_ivf_index(self.spark, self.index)
                df = ann.ivf_topk(indexed, cents, qv.tolist(), k=K, nprobe=NPROBE)
            op["build_s"] = time.perf_counter() - t0
            if tr.enabled:
                with tr.span("plan", "spark") as p:
                    df._jdf.queryExecution().executedPlan()
                op["plan_s"] = p["end"] - p["start"]
            t1 = time.perf_counter()
            with tr.span("collect", "spark"):
                rows = df.collect()
            op["exec_s"] = time.perf_counter() - t1
        op["t"] = time.perf_counter() - t0
        op["span"] = rec["id"] if rec else None
        exact = set(_cosine_topk(np.concatenate(self.vectors), qv, K).tolist())
        op["recall"] = len(exact & {r["vec_id"] for r in rows}) / K
        if op["recall"] < RECALL_FLOOR:
            op.update(ok=False, err=f"recall@{K} {op['recall']:.2f} below {RECALL_FLOOR}")
        self.last_probe = (qv, exact)
        leak_check(self.spark, op)
        return op

    def _compact(self) -> dict:
        from vector_search_optimization_spark.operators import ann

        op = {"kind": "compact", "name": "compact", "ok": True, "err": None}
        t0 = time.perf_counter()
        with self.tracer.span("compact", "operators") as rec:
            ann.compact_ivf_cells(self.spark, self.index, max_files_per_cell=MAX_FILES_PER_CELL)
        op["t"] = time.perf_counter() - t0
        op["span"] = rec["id"] if rec else None
        ids = pads.dataset(os.path.join(self.index, "corpus"), format="parquet",
                           partitioning="hive").to_table(columns=["vec_id"])["vec_id"]
        n_unique = len(set(ids.to_pylist()))
        if len(ids) != self.n_rows or n_unique != self.n_rows:
            op.update(ok=False, err=f"index holds {len(ids)} rows ({n_unique} ids), expected {self.n_rows}")
        leak_check(self.spark, op)
        return op

    # -- harness hooks --------------------------------------------------------

    def _cycle(self, r: int, probes: int = PROBES) -> list[dict]:
        ops = [self._append()]
        ops += [self._probe() for _ in range(probes)]
        if (r + 1) % COMPACT_EVERY == 0:
            ops.append(self._compact())
        return ops

    def warm(self) -> float:
        t0 = time.perf_counter()
        ops = self._cycle(COMPACT_EVERY - 1, WARM_PROBES)
        spent = time.perf_counter() - t0
        self.problems += [f"warm {op['kind']}: {op['err']}" for op in ops if not op["ok"]]
        return spent

    def round(self, r: int) -> list[dict]:
        return self._cycle(r)

    def finish(self) -> list[str]:
        """The engine's exact scan must agree with the numpy answer the
        recall checks used."""
        from vector_search_optimization_spark.operators import ann

        qv, exact = self.last_probe
        indexed, _ = ann.load_ivf_index(self.spark, self.index)
        got = {r["vec_id"] for r in ann.brute_force_topk(indexed, qv.tolist(), k=K).collect()}
        if len(got & exact) < K - 1:
            self.problems.append(f"brute_force_topk shares {len(got & exact)} of {K} ids with numpy")
        return self.problems

    def report(self, ops: list[dict], run: dict) -> dict:
        probes = [op["t"] for op in ops if op["kind"] == "probe" and op["ok"]]
        write_s = sum(op["t"] for op in ops if op["kind"] in ("append", "compact"))
        rows = sum(op.get("rows", 0) for op in ops if op["kind"] == "append" and op["ok"])
        tail = stats.tail(probes)
        return {
            "shape": f"{N_BASE} base vectors x {DIM} dims, {CELLS} cells, nprobe={NPROBE}, "
                     f"batches of {BATCH_ROWS}, {PROBES} probes per batch, compaction every {COMPACT_EVERY} "
                     f"batches of cells with more than {MAX_FILES_PER_CELL} files",
            "ingest_rows_per_s": {"value": rows / write_s if write_s else 0.0, "unit": "rows/s"},
            "probe_p50_s": {"value": stats.median(probes), "unit": "s"},
            "probe_tail_s": tail and {"value": tail["value"], "unit": "s",
                                      "percentile": tail["percentile"], "n": tail["n"]},
            "recall_at_10_mean": float(np.mean([op["recall"] for op in ops if "recall" in op] or [0.0])),
            "appended_rows": rows,
        }

    def layers(self, ops: list[dict]) -> dict:
        def med(kind: str, key: str = "t") -> float:
            return stats.median([op[key] for op in ops if op["kind"] == kind and key in op])

        probes = [op for op in ops if op["kind"] == "probe"]
        return {
            "operators.ann.append_s": med("append"),
            "streaming.batch_s": med("append", "batch_s"),
            "operators.ann.compact_s": med("compact"),
            "operators.ann.ivf_topk_build_s": med("probe", "build_s"),
            "spark.plan_s": med("probe", "plan_s"),
            "operators.ann.ivf_topk_exec_s": med("probe", "exec_s"),
            "operators.ann.rows_scanned_per_result": (
                sum(op.get("records_read", 0) for op in probes) / max(1, len(probes)) / K),
            "sources.index_files": sum(op["index_files"] for op in probes) / max(1, len(probes)),
        }
