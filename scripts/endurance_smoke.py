"""Composed-flagship ENDURANCE smoke (VERDICT r10 next-round #4): one
long `streaming_ingest_etl` run with EVERYTHING on — skip-state
compaction+prune, intra-stream dedup with LSH fold+prune+vacuum, stale
retirement with physical ANN reclamation, periodic centroid rebuild,
version vacuum, and (r11b) consumed-event vacuum (`vacuum_events`) +
periodic MAJOR dedup folds (`compact_dedup_major_every`: corpus
rewritten latest-per-doc to a floor version, LSH index rebuilt from it,
below-floor versions + superseded sidecar vacuumed) — under realistic
churn (updates AND reverts), checking the two product claims the
per-feature smokes can't:

1. per-batch wall-clock is FLAT over the series (no O(stream-age)
   term leaks through the composition of four manifests/watermarks);
2. state/index footprint is BOUNDED for the trees that claim a bound
   (delta tails pruned to the fold cadence, superseded index versions
   vacuumed to retain_versions, the unconsumed stale and revive event
   tails bounded by the ann fold cadence). Trees that grow by DESIGN —
   clean/chunks/flagged (the stream's outputs) and the folded
   state/event versions (history) — are reported separately; their
   growth is the workload's, not a leak.

The run is split into TWO segments on one checkpoint (a mid-run
restart, itself a recovery exercise): the bounded metrics are
snapshotted at both segment ends, so boundedness is established by
comparing two stream ages, not inferred from one terminal reading.
Every claim is a hard GATE — the script exits nonzero listing each
violated gate, so a background run's exit status is the verdict
(r11 test review: a smoke that can only print cannot regress).

Workload validity gates (same review): the synthetic 60-token texts
from a 3000-word vocabulary cannot legitimately near-dup, so flagged
must stay ZERO; every batch row must land clean (skip/flag leakage
shows up as a clean-count mismatch); churn must actually exercise the
A->B->A path (nonzero revive tail above the last fold watermark).

Methodology (SCALE_SMOKE_R10 §7 rules): per-batch times come from
Spark's own streaming progress (triggerExecution durationMs) — no
per-sample query restart, so none of the restart harness's O(age)
checkpoint-replay noise. The first WARM_BATCHES batches are excluded
from drift baselines (session JIT, memory:
jit-warmup-iterative-bench), as is the first batch of segment 2 (it
pays the restart's source re-listing). Fold-boundary batches are
their own population — they PAY the fold; flatness is claimed for the
non-boundary steady state.

Feed churn per 100-row batch: ~85 brand-new docs, 10 UPDATES (rewrite
of a doc sent >=2 batches earlier), 5 REVERTS (a previously-updated
doc returns to its original text — ADVICE r10's A->B->A path, live at
volume). Corpus + stored indexes are built from .scale/sf1 documents
(45k docs) so probe/assign run against realistic state.

Usage: python scripts/endurance_smoke.py [n_batches] [rows_per_batch]
       [major_every] [update_share] [major_rows]

- major_every: every Nth dedup fold is MAJOR (default 10); 0 disables
  the batch-count cadence entirely.
- update_share: fraction of each batch that is UPDATES (default 0.10);
  the hot-update variant (VERDICT r11 #5) runs 10x that share.
- major_rows: size trigger — a fold auto-upgrades to MAJOR once the
  cumulative superseded sidecar passes this row count
  (compact_dedup_major_rows). With major_every=0 this is the ONLY
  major mechanism, so the bounded-sidecar gates prove the trigger,
  not the cadence.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.similarity import (
    quantize_and_assign,
    refresh_centroids,
    write_ivf_index,
)
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    embedded_chunks,
    load_pipeline_ann_state,
    read_events,
    streaming_ingest_etl,
)

SF1_DOCS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".scale/sf1/documents.parquet")
WARM_BATCHES = 20
K = 10  # fold cadence for all three compactions
REBUILD_EVERY = 5  # every 5th ann fold is a centroid rebuild
RETAIN = 2  # index versions kept by the vacuum
MAX_STEADY_DRIFT = 1.30
# r11b additions also on: vacuum_events (consumed stale and revive events
# physically deleted at state folds) and every MAJOR_EVERY-th dedup
# fold a MAJOR corpus rewrite + LSH rebuild (corpus_floor epoch);
# overridable as argv[3] so short validation runs still hit majors
MAJOR_EVERY = 10


def synth_text(rng: np.random.Generator, words: list[str]) -> str:
    return " ".join(rng.choice(words, size=60, replace=True))


def build_feed(n_batches: int, n_new: int, n_upd: int, n_rev: int):
    """One DataFrame-able feed, batch-major row order, EXACTLY
    ``n_new+n_upd+n_rev`` rows per batch with unique doc_ids per batch
    (the page contract). Returns (pdf, originals) where originals maps
    doc_id -> first text (the revert target)."""
    rng = np.random.default_rng(7)
    words = [f"tok{i}" for i in range(3000)]
    rows_out: list[tuple[int, str, str]] = []
    originals: dict[int, str] = {}
    updated: set[int] = set()  # docs rewritten, eligible for revert
    sent_by_batch: list[list[int]] = []
    next_id = 10_000_000
    rows = n_new + n_upd + n_rev
    for b in range(n_batches):
        batch_rows: list[tuple[int, str, str]] = []
        batch_ids = []
        # SNAPSHOT the revert pool before the update block mutates
        # `updated`, and track this batch's picks: the pipeline (and
        # the paginated source's page contract) assumes a doc_id
        # appears at most once per micro-batch — an update and a revert
        # of the SAME doc in one batch would contaminate every
        # downstream number this smoke exists to measure (r11 review)
        eligible_rev = sorted(updated)
        chosen: set[int] = set()
        eligible_upd = [i for blk in sent_by_batch[:-1] for i in blk] if b >= 2 else []
        if eligible_upd:
            for d in rng.choice(eligible_upd, size=min(n_upd, len(eligible_upd)), replace=False):
                batch_rows.append((int(d), synth_text(rng, words), "synth"))
                updated.add(int(d))
                chosen.add(int(d))
        pool = [d for d in eligible_rev if d not in chosen]
        if pool:
            for d in rng.choice(pool, size=min(n_rev, len(pool)), replace=False):
                batch_rows.append((int(d), originals[int(d)], "synth"))
                updated.discard(int(d))
        # fill the page to EXACTLY `rows` rows with brand-new docs: the
        # paginated source slices fixed-size pages, so a short batch
        # would shift every later page boundary off this builder's
        # batch-major layout
        while len(batch_rows) < rows:
            t = synth_text(rng, words)
            batch_rows.append((next_id, t, "synth"))
            originals[next_id] = t
            batch_ids.append(next_id)
            next_id += 1
        rows_out.extend(batch_rows)
        sent_by_batch.append(batch_ids)
    feed = pd.DataFrame(rows_out, columns=["doc_id", "text", "source"])
    # hard assert of the page contract
    for b in range(n_batches):
        page = feed.iloc[b * rows: (b + 1) * rows]
        assert len(page) == rows and page.doc_id.is_unique, f"batch {b} malformed"
    return feed, originals


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _ann_stale_through(spark, out: str) -> int:
    from notion_vector_store_etl_pipeline_spark.streaming.state import (
        read_compaction_manifest,
    )

    man = read_compaction_manifest(f"{out}/ann", spark)
    return (man or {}).get("stale_through", -1)


def bounded_snapshot(spark, out: str) -> dict[str, int]:
    """The metrics the design CLAIMS are bounded, measured at one
    stream age: uncompacted delta-dir counts (<= fold cadence + the
    in-flight window), index versions kept (<= RETAIN), unconsumed
    stale and revive event rows above the ann watermark (counted apart,
    by ``live``), surviving event VERSION dirs (vacuumed once consumed
    — r11b), corpus versions +
    superseded-sidecar versions (reset by each MAJOR fold — r11b)."""
    def _n(path):
        return len(os.listdir(path)) if os.path.isdir(path) else 0

    tail = read_events(spark, out, 10**9, after_batch=_ann_stale_through(spark, out))
    stale_rows, revive_rows = (0, 0) if tail is None else tail.agg(
        F.count_if(~F.col("live")), F.count_if("live")
    ).head()
    return {
        "lsh_delta_dirs": _n(f"{out}/index_delta"),
        "ann_delta_dirs": _n(f"{out}/ann/delta"),
        "state_tail_dirs": _n(f"{out}/state"),
        "lsh_versions": _n(f"{out}/index_versions"),
        "ann_versions": _n(f"{out}/ann/index_versions"),
        "stale_tail_rows": stale_rows,
        "revive_tail_rows": revive_rows,
        "event_version_dirs": _n(f"{out}/events_versions"),
        "corpus_version_dirs": _n(f"{out}/corpus_versions"),
        "superseded_version_dirs": _n(f"{out}/superseded_versions"),
    }


def run_segment(
    spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, rows, major_every,
    major_rows=None,
):
    q = streaming_ingest_etl(
        spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
        page_size=rows, pages_per_batch=1,
        compact_state_every=K, prune_state=True, vacuum_events=True,
        update_index=True,
        compact_dedup_every=K, compact_dedup_prune=True, compact_dedup_retain=RETAIN,
        compact_dedup_major_every=major_every or None,
        compact_dedup_major_rows=major_rows,
        compact_ann_every=K, compact_ann_prune=True, compact_ann_retain=RETAIN,
        rebuild_ann_every=REBUILD_EVERY,
    )
    q.processAllAvailable()
    prog = q.recentProgress  # StreamingQueryProgress objects
    q.stop()
    return {
        int(p.batchId): (p.durationMs or {}).get("triggerExecution", 0) / 1000.0
        for p in prog
        if (p.numInputRows or 0) > 0
    }


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    major_every = int(sys.argv[3]) if len(sys.argv) > 3 else MAJOR_EVERY
    update_share = float(sys.argv[4]) if len(sys.argv) > 4 else 0.10
    major_rows = int(sys.argv[5]) if len(sys.argv) > 5 else None
    if n_batches < 2 * WARM_BATCHES + 2 * K:
        raise SystemExit(
            f"n_batches={n_batches} too short: need > {2 * WARM_BATCHES + 2 * K} "
            f"(warm exclusion {WARM_BATCHES} + two fold windows) for a valid "
            "drift measurement — nothing this run printed would be evidence"
        )
    n_upd = int(rows * update_share)
    n_rev = max(1, int(rows * 0.05))
    n_new = rows - n_upd - n_rev
    assert n_new > 0, f"update_share={update_share} leaves no new docs"

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(n_batches + 50))

    base = tempfile.mkdtemp(prefix="endurance_smoke_")
    docs = spark.read.parquet(SF1_DOCS).select("doc_id", "text", "source")
    corpus_path = f"{base}/corpus"
    docs.filter(F.col("doc_id") % 10 != 0).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    t0 = time.perf_counter()
    lsh_path = f"{base}/lsh"
    D.write_lsh_index(D.build_lsh_index(corpus.select("doc_id", "text")), lsh_path)
    chunks = embedded_chunks(corpus).select("vec_id", "emb")
    c_ids, c_mat = refresh_centroids(chunks)
    ivf_path = f"{base}/ivf"
    write_ivf_index(
        spark,
        quantize_and_assign(chunks, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"),
        c_ids, c_mat, ivf_path,
    )
    print(f"setup: corpus={corpus.count()} docs, indexes in {time.perf_counter()-t0:.1f}s",
          flush=True)

    feed, _ = build_feed(n_batches, n_new, n_upd, n_rev)
    src = f"{base}/feed.parquet"
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    half = n_batches // 2

    # segment 1: first half of the feed, then snapshot at age `half`
    feed.iloc[: half * rows].to_parquet(src, index=False)
    t0 = time.perf_counter()
    per_batch = run_segment(
        spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, rows, major_every,
        major_rows,
    )
    snap1 = bounded_snapshot(spark, out)
    fp1 = {t: tree_bytes(f"{out}/{t}") for t in ("clean", "chunks", "ann")}
    # segment 2: full feed on the SAME checkpoint (mid-run restart)
    feed.to_parquet(src, index=False)
    per_batch.update(
        run_segment(
            spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, rows, major_every,
            major_rows,
        )
    )
    wall = time.perf_counter() - t0
    snap2 = bounded_snapshot(spark, out)
    fp2 = {t: tree_bytes(f"{out}/{t}") for t in ("clean", "chunks", "ann")}

    ids = sorted(per_batch)
    steady = [b for b in ids if b >= WARM_BATCHES and b % K != 0 and b != half]
    boundary = [b for b in ids if b >= WARM_BATCHES and b % K == 0]
    major = (
        [b for b in boundary if (b // K) % major_every == 0] if major_every else []
    )
    rebuild = [
        b for b in boundary
        if (b // K) % REBUILD_EVERY == 0 and b not in major
    ]
    plain_boundary = [b for b in boundary if b not in rebuild and b not in major]

    def q50(xs):
        return float(np.median([per_batch[b] for b in xs])) if xs else float("nan")

    halves = steady[: len(steady) // 2], steady[len(steady) // 2:]
    drift = q50(halves[1]) / q50(halves[0])
    print(f"\nbatches={len(ids)} wall={wall:.0f}s  rows/batch={rows} "
          f"(new {n_new}/upd {n_upd}/rev {n_rev})  folds every {K}, "
          f"rebuild every {REBUILD_EVERY}th fold, restart at batch {half}")
    print(f"steady-state (non-boundary, batch>={WARM_BATCHES}, restart batch excluded): "
          f"p50 first-half {q50(halves[0]):.2f}s vs second-half {q50(halves[1]):.2f}s "
          f"(drift x{drift:.2f})")
    for label, pop in (("plain fold boundaries", plain_boundary),
                       ("rebuild boundaries", rebuild),
                       ("MAJOR fold boundaries", major)):
        if pop:
            h = pop[: len(pop) // 2], pop[len(pop) // 2:]
            print(f"{label}: n={len(pop)} p50 {q50(pop):.2f}s "
                  f"first-half {q50(h[0]):.2f}s vs second-half {q50(h[1]):.2f}s")

    print(f"\nbounded metrics at age {half} vs {n_batches}:")
    for k in snap1:
        print(f"  {k}: {snap1[k]} -> {snap2[k]}")
    print("output trees (grow with the workload by design, MB at the two ages):",
          {t: (round(fp1[t] / 1e6, 1), round(fp2[t] / 1e6, 1)) for t in fp1})

    flagged_rows = (
        spark.read.parquet(f"{out}/flagged").count()
        if os.path.isdir(f"{out}/flagged") else 0
    )
    clean_rows = spark.read.parquet(f"{out}/clean").count()
    index, _, _ = load_pipeline_ann_state(spark, out, ivf_path, 10**9)
    n_rows = index.count()
    n_ids = index.select("vec_id").distinct().count()
    print(f"workload: flagged={flagged_rows} clean={clean_rows} "
          f"(expect 0 / {n_batches * rows}); served ANN view {n_rows} rows / "
          f"{n_ids} distinct vec_ids")

    # ---- hard gates: the claims, each falsifiable ----
    delta_bound = K + 2  # fold cadence + the in-flight window
    event_bound = (K + 1) * rows  # events from <= K+1 unconsumed batches
    # corpus/sidecar reset bound: with a batch-count cadence, one minor
    # version per fold between majors; with the SIZE trigger, however
    # many folds the threshold takes to cross (+ slack for the
    # in-flight window and the deferred below-floor vacuum)
    if major_rows:
        folds_to_cross = -(-major_rows // max(1, K * n_upd))  # ceil
        reset_bound = folds_to_cross + 3
    elif major_every:
        reset_bound = major_every + 1
    else:
        reset_bound = n_batches // K + 2  # no major mechanism at all
    failures = []
    if not (drift == drift and drift <= MAX_STEADY_DRIFT):
        failures.append(f"steady-state drift x{drift:.2f} > x{MAX_STEADY_DRIFT}")
    for s, age in ((snap1, half), (snap2, n_batches)):
        for key, bound in (
            ("lsh_delta_dirs", delta_bound), ("ann_delta_dirs", delta_bound),
            ("state_tail_dirs", delta_bound),
            ("lsh_versions", RETAIN), ("ann_versions", RETAIN),
            ("stale_tail_rows", event_bound), ("revive_tail_rows", event_bound),
            # consumed event versions vacuum at state folds: at most the
            # last fold's version + one lag window survives (r11b)
            ("event_version_dirs", 2),
            # each MAJOR fold resets corpus versions + sidecar to the
            # floor; between majors, one minor version per fold (r11b)
            ("corpus_version_dirs", reset_bound),
            ("superseded_version_dirs", reset_bound),
        ):
            if s[key] > bound:
                failures.append(f"{key}={s[key]} at age {age} exceeds bound {bound}")
    if major or major_rows:
        from notion_vector_store_etl_pipeline_spark.streaming.state import (
            read_compaction_manifest,
        )

        dman = read_compaction_manifest(out, spark) or {}
        floor = dman.get("corpus_floor", 0)
        if not floor:
            failures.append(
                "major mechanism active "
                f"(cadence boundaries {major}, size trigger {major_rows}) "
                "but no corpus_floor published"
            )
        if major_rows:
            # the size trigger's whole claim: the cumulative sidecar
            # counter can never exceed threshold + one fold window
            ctr = dman.get("superseded_rows", 0)
            # reverts change content too, so they land in the clean
            # window and count as supersessions exactly like updates
            ctr_bound = major_rows + K * (n_upd + n_rev)
            if ctr > ctr_bound:
                failures.append(
                    f"superseded_rows={ctr} exceeds size-trigger bound "
                    f"{ctr_bound} (threshold {major_rows} + fold window)"
                )
    if flagged_rows != 0:
        failures.append(f"flagged={flagged_rows}: synthetic texts cannot near-dup")
    if clean_rows != n_batches * rows:
        failures.append(f"clean={clean_rows} != {n_batches * rows}: rows leaked")
    if snap2["revive_tail_rows"] + snap1["revive_tail_rows"] == 0:
        failures.append("revive tail empty at both ages: the A->B->A churn "
                        "path was not exercised — workload invalid")
    if n_rows != n_ids:
        failures.append(f"served view has duplicates: {n_rows} rows / {n_ids} ids")
    if failures:
        print("\nFAIL:")
        for f in failures:
            print(f"  - {f}")
        return 1
    print("\nall gates green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
