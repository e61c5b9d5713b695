"""ANN serving phase: sequential top-10 kNN query batches of 32 vectors
against a stored IVF index plus a tail of unfolded deltas.

Each query batch loads the index through ``load_ivf_index_with_deltas``
and probes it with the engine's own probe,
``plans.vector_queries._ivf_quantized_probe`` (list routing, pruned
list scan, ``ivf_coarse_rerank``), so a change to the probe shows here.
Recall@10 is taken against numpy brute force over base and deltas.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from checks import check_ann_recall
from tracing import Tracer

DIM = 64                # the fixture embedding dim
N_BASE = 4_000
N_DELTA = 500         # vectors per appended delta
N_DELTAS = 2
N_CLUSTERS = 20
QUERY_BATCH = 32
TOPK = 10
MIN_BATCHES = 3
RECALL_FLOOR = 0.8
QUERY_ID_BASE = 1_000_000_000
WARMUP_BATCH = 100_000      # query batch number of the untimed warm-up


def clustered_vectors(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) of clustered vectors, base first then deltas."""
    rng = np.random.default_rng([seed, 4])
    n = N_BASE + N_DELTA * N_DELTAS
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    mat = centers[rng.integers(0, N_CLUSTERS, n)] + 0.35 * rng.normal(size=(n, DIM))
    return np.arange(n, dtype=np.int64), mat


def query_batch(seed: int, batch_no: int, corpus: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Queries drawn near corpus points, so recall is meaningful."""
    rng = np.random.default_rng([seed, 5, batch_no])
    picks = rng.integers(0, len(corpus), QUERY_BATCH)
    q = corpus[picks] + 0.05 * rng.normal(size=(QUERY_BATCH, DIM))
    ids = QUERY_ID_BASE + batch_no * QUERY_BATCH + np.arange(QUERY_BATCH, dtype=np.int64)
    return ids, q


def brute_force_topk(q: np.ndarray, ids: np.ndarray, mat: np.ndarray) -> list[set[int]]:
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qu = q / np.linalg.norm(q, axis=1, keepdims=True)
    scores = np.round(qu @ unit.T, 6)
    out = []
    for row in scores:
        order = np.lexsort((ids, -row))[:TOPK]  # score desc, id asc
        out.append({int(ids[i]) for i in order})
    return out


def recall_at_k(found: dict[int, set[int]], q_ids: np.ndarray, truth: list[set[int]]) -> float:
    return float(np.mean([len(found.get(int(q), set()) & t) / TOPK for q, t in zip(q_ids, truth)]))


class AnnServe:
    def __init__(self, ctx, work: str):
        self.ctx = ctx
        self.work = work

    def setup(self) -> dict:
        from notion_vector_store_etl_pipeline_spark.operators.similarity import (
            append_ivf_delta,
            quantize_and_assign,
            refresh_centroids,
            write_ivf_index,
        )

        spark, seed = self.ctx.spark, self.ctx.seed
        t = time.perf_counter()
        self.ids, self.mat = clustered_vectors(seed)
        gen_s = time.perf_counter() - t

        def frame(lo, hi):
            pdf = pd.DataFrame({"vec_id": self.ids[lo:hi], "emb": list(self.mat[lo:hi])})
            return spark.createDataFrame(pdf, "vec_id long, emb array<double>")

        t = time.perf_counter()
        base = frame(0, N_BASE).persist()
        c_ids, c_mat = refresh_centroids(base)
        self.base = f"{self.work}/ivf"
        write_ivf_index(
            spark,
            quantize_and_assign(base, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"),
            c_ids, c_mat, self.base,
        )
        base.unpersist()
        self.deltas = []
        for d in range(N_DELTAS):
            lo = N_BASE + d * N_DELTA
            path = f"{self.work}/ivf_delta{d}"
            append_ivf_delta(spark, frame(lo, lo + N_DELTA), self.base, path)
            self.deltas.append(path)
        build_s = time.perf_counter() - t
        self.n_lists = len(c_ids)
        t = time.perf_counter()
        self._query(Tracer(), WARMUP_BATCH)
        return {"ann.setup.generate_s": gen_s, "ann.setup.build_s": build_s,
                "ann.setup.warmup_s": time.perf_counter() - t}

    def _query(self, tracer: Tracer, batch_no: int) -> dict:
        from notion_vector_store_etl_pipeline_spark.operators.similarity import (
            load_ivf_index_with_deltas,
        )
        from notion_vector_store_etl_pipeline_spark.plans.vector_queries import (
            _ivf_quantized_probe,
        )

        spark = self.ctx.spark
        q_ids, q_mat = query_batch(self.ctx.seed, batch_no, self.mat)
        t0 = time.perf_counter()
        with tracer.span("ann.load") as s_load:
            index, c_ids, c_mat = load_ivf_index_with_deltas(spark, self.base, self.deltas)
        with tracer.span("ann.probe") as s_probe:
            rows = _ivf_quantized_probe(
                spark, None, index, c_ids, c_mat, prune_lists=True, qb=(q_ids, q_mat)
            ).select("query_id", "cand_id").collect()
        wall = time.perf_counter() - t0
        found: dict[int, set[int]] = {}
        for r in rows:
            found.setdefault(int(r.query_id), set()).add(int(r.cand_id))
        recall = recall_at_k(found, q_ids, brute_force_topk(q_mat, self.ids, self.mat))
        return {"wall": wall, "recall": recall, "load": s_load, "probe": s_probe}

    def measure(self, seconds: float) -> tuple[dict, dict, list[str], int]:
        """Query batches for ``seconds`` (at least MIN_BATCHES); returns
        (end-to-end report, per-layer metrics, failures, attempted)."""
        tracer = Tracer(self.ctx.spark)
        batches, failures = [], []
        t0 = time.perf_counter()
        while len(batches) < MIN_BATCHES or time.perf_counter() - t0 < seconds:
            b = self._query(tracer, len(batches))
            failures += check_ann_recall(len(batches), b["recall"], RECALL_FLOOR)
            batches.append(b)
        walls = [b["wall"] for b in batches]
        report = {
            "query_p50_s": statistics.median(walls),
            "query_max_s": max(walls),
            "query_batches": len(batches),
            "ann_recall_at_10": float(np.mean([b["recall"] for b in batches])),
            "ann_lists": self.n_lists,
        }

        def med(fn):
            return statistics.median(fn(b) for b in batches)

        st = lambda b: (b["load"].stats, b["probe"].stats)  # noqa: E731
        layer = {
            "ann.load_s": med(lambda b: b["load"].wall_s),
            "ann.probe_s": med(lambda b: b["probe"].wall_s),
            "ann.jobs_per_query": med(lambda b: sum(s.jobs for s in st(b))),
            "ann.stages_per_query": med(lambda b: sum(s.stages for s in st(b))),
            "ann.exec_run_s_per_query": med(lambda b: sum(s.exec_run_s for s in st(b))),
            "ann.input_bytes_per_query": med(lambda b: sum(s.input_bytes for s in st(b))),
            "ann.busy_cores": med(lambda b: sum(s.exec_run_s for s in st(b)) / b["wall"]),
            "ann.task_skew": med(lambda b: b["probe"].stats.task_skew),
        }
        return report, layer, failures, len(batches)
