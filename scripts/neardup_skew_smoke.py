"""Hot-list stress for the blocked near-dup family: a template
cluster piles tens of thousands of near-identical vectors into ONE
IVF list, and without the round-10 sub-blocking guard that list is a
single unbounded GEMM task (m^2 score matrix). This smoke constructs
exactly that corpus, runs `ivf_blocked_pairs` with the guard active
(MAX_BLOCK_ROWS=4096) and with it effectively disabled (cap=10^9 ->
one task per list), and reports wall-clock, the task-shape evidence
(block counts per list), and output equality — SET equality via a
symmetric exceptAll difference, not a count comparison (equal counts
can hide a guard bug that drops some boundary pairs while
double-emitting others). Both configs run on equally-warm workers: an
untimed small-slice warmup of the applyInPandas scoring path precedes
the first timing, so config order doesn't bias the comparison
(single timed trial per config — the unguarded run is minutes long,
min-of-2 would double it for no information).

Synthetic by necessity (the fixtures' lists are balanced; skew has to
be constructed): `n_base` background vectors around scattered centers
plus ONE template cluster of `n_hot` vectors at sigma=0.01 around a
single point, fixed seed. Centroids are carved from the BASE only —
the realistic hot-list situation is a sidecar built BEFORE the
template flood arrives (the same stale-centroid scenario
SCALE_SMOKE_R10.md §1 records for recall; between rebuilds, THIS guard is
what keeps per-task memory bounded). A carve-out over the full
population would sample centroids inside the cluster and dilute it
(first version of this smoke measured exactly that: top list 1,638).

Usage: python scripts/neardup_skew_smoke.py [n_base] [n_hot]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators import similarity as S


def main() -> int:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    n_hot = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    dim = 32

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(40, dim)) * 3.0
    base = centers[rng.integers(0, 40, n_base)] + rng.normal(size=(n_base, dim))
    hot = centers[0] + rng.normal(size=(n_hot, dim)) * 0.01  # the template
    mat = np.vstack([base, hot]).astype(np.float64)
    ids = np.arange(len(mat), dtype=np.int64)

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    vecs = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, emb array<double>",
    ).repartition(32)
    vecs.persist().count()

    # sidecar carved from the PRE-FLOOD base (see module docstring)
    c_mask = (ids % 97 == 0) & (ids < n_base)
    c_ids, c_mat = ids[c_mask], mat[c_mask]
    print(f"n={len(ids)} (hot cluster={n_hot}) centroids={len(c_ids)}")

    # task-shape evidence: per-list occupancy at probes=2
    sizes = (
        S.nearest_lists(vecs, c_ids, c_mat, 2, emb_col="emb")
        .groupBy("list_id")
        .count()
        .orderBy(F.desc("count"))
        .limit(3)
        .collect()
    )
    print("top-3 list occupancy:", [(r.list_id, r["count"]) for r in sizes])

    # untimed warmup of the scoring path (JIT + Python workers) on a
    # small slice so the FIRST timed config isn't the one paying it
    S.ivf_blocked_pairs(
        vecs.limit(2000), c_ids, c_mat, 0.9, probes=2
    ).count()

    orig_cap = S.MAX_BLOCK_ROWS
    results = {}
    cached = {}
    try:
        for label, cap in [
            ("guarded (4096)", 4096),
            ("unguarded (one task/list)", 10**9),
        ]:
            S.MAX_BLOCK_ROWS = cap
            # the timed action materializes the persisted pair set so the
            # identity diff below doesn't re-run a minutes-long config;
            # the cache-write overhead is inside BOTH configs' timings
            # equally
            pairs = S.ivf_blocked_pairs(vecs, c_ids, c_mat, 0.9, probes=2).select(
                "a_id", "b_id"
            )
            pairs.persist()
            t0 = time.time()
            n_pairs = pairs.count()
            dt = time.time() - t0
            results[cap] = (n_pairs, dt)
            cached[cap] = pairs
            blocks = int(np.ceil(sizes[0]["count"] / cap))
            print(
                f"| {label} | pairs={n_pairs} | {dt:.1f}s | hottest list -> "
                f"{blocks} blocks ({blocks * (blocks + 1) // 2} tasks, "
                f"<= {min(cap, sizes[0]['count'])}^2 score matrix each) |"
            )

        # SET equality, both directions (counts alone can hide a
        # drop-one-double-another guard bug)
        g, u = cached[4096], cached[10**9]
        diff = g.exceptAll(u).count() + u.exceptAll(g).count()
        (n_g, _), (n_u, _) = results.values()
        print(
            f"outputs identical: {n_g == n_u and diff == 0} "
            f"(counts {n_g}=={n_u}, symmetric diff={diff})"
        )
    finally:
        S.MAX_BLOCK_ROWS = orig_cap
        for df in cached.values():
            df.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
