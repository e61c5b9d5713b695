"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the `noop` sink
(`df.write.format("noop")`): every output column is computed and
discarded executor-side. count() — used through round 4 — let Catalyst
prune projections that nothing aggregated over, so select-shaped
queries (winnowing, chunkers, text stats) were timed WITHOUT their
expensive expressions; noop closes that hole while still avoiding
driver-side collect of wide rows.
"""

from __future__ import annotations

import json
import os
import time

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators.bloom import clear_sketch_memo
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.plans import load_registry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ---------------------------------------------------------------------
# Contention guard (VERDICT r12 #1): rounds 10-12 needed PROSE
# disclosures to explain 1.3-2x swings on untouched code from neighbor
# load. Make it mechanical: per trial, measure the CPU consumed by
# processes OUTSIDE this bench's own process tree while the trial ran
# (via /proc/stat total-busy minus our tree's utime+stime deltas). A
# trial whose external load exceeds EXT_CORES_MAX average cores is
# CONTENDED; contended first trials earn extra trials, and a query whose
# reported min comes from contended trials only is flagged in the JSON.
# loadavg alone can't attribute — the bench itself saturates the box —
# so loadavg is recorded for context, external-cores is the gate.
# Caveat: a tree process that EXITS between samples drops its jiffies
# from the tree delta, overcounting "external" — conservative in the
# right direction (never hides contention), and the long-lived
# JVM/pyspark-daemon processes dominate a bench trial anyway.

EXT_CORES_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_EXT_CORES_MAX", "2.0"))
IO_CORES_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_IO_CORES_MAX", "2.0"))
_HZ = os.sysconf("SC_CLK_TCK")


def _busy_jiffies() -> tuple[int, int, int]:
    """(busy, iowait, steal) jiffies. busy includes steal, so
    hypervisor-level CPU theft surfaces as external load; iowait is
    tracked separately — a run where queries slow 2x while external CPU
    stays ~0 and loadavg rises is STORAGE contention (tasks in D-state
    count in loadavg but burn no CPU), which the iowait delta makes
    visible. steal is ALSO returned on its own (VERDICT r14 #6): the
    r14 analysis found identical code swinging 5-45 s while ext_cores
    stayed low, i.e. contention the guard cannot attribute; emitting
    the raw steal delta per trial lets cross-round comparisons at least
    see the hypervisor component."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    user, nice, system, idle, iowait, irq, softirq, steal = (
        int(x) for x in parts[:8]
    )
    return user + nice + system + irq + softirq + steal, iowait, steal


def _tree_jiffies() -> int:
    """utime+stime of this process and every live descendant (the JVM
    and the pyspark worker daemons), by one /proc walk."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
            # fields after the (possibly space-containing) comm — a
            # process exiting between open and read can yield an
            # empty/truncated string; treat that like the open failing
            # rather than letting IndexError kill the sweep (ADVICE r13)
            rest = raw.rsplit(")", 1)[1].split()
            ppid, utime, stime = int(rest[1]), int(rest[11]), int(rest[12])
        except (OSError, IndexError, ValueError):
            continue
        procs[int(entry)] = (ppid, utime + stime)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(kids.get(pid, ()))
    return total


def _timed_trial(fn) -> tuple[float, float, float, float, float]:
    """Run one trial; returns (elapsed_sec, ext_cores, io_cores,
    loadavg1, steal_cores): ext_cores is the average non-tree CPU cores
    busy during the trial, io_cores the average cores' worth of iowait
    (storage pressure — ours or a neighbor's on shared disks), and
    steal_cores the average cores' worth of hypervisor steal."""
    load1 = os.getloadavg()[0]
    (busy0, io0, st0), tree0 = _busy_jiffies(), _tree_jiffies()
    t0 = time.perf_counter()
    fn()
    elapsed = time.perf_counter() - t0
    (busy1, io1, st1), tree1 = _busy_jiffies(), _tree_jiffies()
    denom = _HZ * max(elapsed, 1e-9)
    ext = max(0, (busy1 - busy0) - (tree1 - tree0)) / denom
    io = max(0, io1 - io0) / denom
    steal = max(0, st1 - st0) / denom
    return elapsed, ext, io, load1, steal


def _cpu_canary() -> float:
    """Fixed-work single-thread spin (VERDICT r14 #6), ~0.1 s on a
    quiet core: effective CPU slowdowns /proc cannot attribute (steal
    accounted to idle, frequency scaling, SMT pressure) show up as a
    proportionally slower canary. Run UNTIMED before each query's
    trials; the per-query value lands in the stderr audit line and a
    min/max summary in the stdout contract line, so cross-round
    comparisons can normalize for host speed."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x * 1103515245 + i) & 0x7FFFFFFF
    if x < 0:  # unreachable; keeps the loop from being optimized away
        raise AssertionError
    return round(time.perf_counter() - t0, 4)

# Headline set: the heavy/representative operators per SURVEY.md §2.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q21_waiting_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q9_product_profit",
    "tfidf_top_terms",
    "time_rollup_multi",
    "agg_group_sum",
    "join_inner_equi",
    "join_broadcast_dim",
    "topk_per_group",
    "window_tumbling_counts",
    "join_range_theta",
    "join_asof_latest",
    "graph_reachability",
    "graph_reachability_sql",
    "chunk_explode",
    "chunk_explode_words",
    "knn_topk",
    "similarity_selfjoin",
    "neardup_components",
    # round 10: the sub-quadratic (IVF-blocked) twin, benched beside
    # the exact baseline so the trade is a visible number, and the
    # per-ingest probe (vector twin of minhash_incremental_probe)
    "neardup_components_ivf_blocked",
    "neardup_probe_ivf_blocked",
    "neardup_probe_ivf_stored",
    "minhash_lsh_neardup",
    "ngram_jaccard_selfjoin",
    "ngram_jaccard_prefixfilter",
    "dedup_exact_hash",
    "text_token_stats",
    "contamination_ngram_overlap",
    "sequence_packing",
    "multimodal_decode_stub",
    "incremental_changed",
    "curation_funnel",
    "knn_ivf_quantized",
    # round 2 additions
    "semdedup_cluster_prune",
    "knn_lsh_cosine",
    "classifier_score_linear",
    "winnowing_fingerprint",
    "bloom_prejoin_filter",
    "split_train_val_test",
    "graph_pagerank",
    "interval_merge_islands",
    # round 5 addition
    "hll_sketch_union",
    # round 6 additions: previously never-benched families, so perf
    # regressions there get caught by the recorded per-round numbers.
    # strings wave (SURVEY P3-P8)
    "title_coalesce",
    "url_basename",
    "uuid_normalize",
    "regex_extract_id",
    "safe_filename",
    "project_coalesce",
    # incremental family beyond incremental_changed
    "left_join_state",
    "anti_join_unchanged",
    "stale_detect",
    # multimodal arrow path (mapInArrow, no pandas conversion)
    "multimodal_decode_arrow",
    # set operations (hash-agg bag semantics)
    "setop_except",
    "setop_intersect_all",
    # reshape
    "pivot_counts",
    "unpivot_metrics",
    # semi-structured extraction
    "json_extract_props",
    "variant_extract_props",
    # round 7 additions: the skew-robust capped prefix-filter variant
    # and the text-side end-to-end dedup pipeline (LSH pairs ->
    # connected components)
    "ngram_jaccard_prefixfilter_capped",
    "minhash_neardup_components",
    "minhash_incremental_probe",
    # round 8 addition: the probe over the STORED corpus index — first
    # trial pays the one-time index build, min-of-trials reports the
    # per-ingest cost (no corpus-side signature recomputation)
    "minhash_probe_stored_index",
    # round 9 addition: the IVF twin of the stored-index pattern —
    # min-of-trials reports the probe-only cost against the
    # list_id-partitioned stored index (pruned scan + rerank)
    "knn_ivf_stored_index",
    "knn_ivf_incremental",
    # round 10 addition: probe after the centroid-refresh rebuild —
    # the memoized artifact chain (stale base + delta + rebuild) is
    # built once; min-of-trials reports the pruned probe of the
    # REBUILT index, same economics as the stored-index entries
    "knn_ivf_rebuilt",
    # round 10 addition: the corpus-wide blocked neardup sweep off the
    # STORED index — min-of-trials reports the sweep alone (no
    # assignment pass; the count branch reads only the list_id
    # partition column)
    "neardup_pairs_ivf_stored",
    # round 12 addition (VERDICT r11 #4): the composed flagship
    # lifecycle (__spark_entry__.entry parameterized by SF) — skip
    # stage, incremental plan, chunk + chunk ids, per-language rollup —
    # so lifecycle cost is tracked across rounds like registry queries.
    # Not a registry entry (it is the driver's entry() contract, not an
    # oracle-checked operator); bench.py resolves it specially.
    "flagship_pipeline",
    # round 13 additions: the two chain-disposition registrations (the
    # text peel over minhash pairs, and its embedding-wing cosine twin,
    # VERDICT r12 #6) — the peel's pair-sized fixed overhead should
    # stay flat across rounds, and a regression there would otherwise
    # only show on the FULL page
    "dedup_chain_sequential",
    "neardup_chain_sequential_cosine",
]


def _flagship_query(spark, sf_dir):
    import __spark_entry__ as _entry

    return _entry.entry_frame(spark, sf_dir)


def main() -> None:
    # test hooks (tests/test_bench_contract.py): run a subset / fewer
    # trials so the fast contract smoke doesn't pay for the full sweep
    names = HEADLINE
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        names = [n.strip() for n in subset.split(",") if n.strip()]
    n_trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))

    registry = load_registry()
    # SPARK_GRAFT_BENCH_ALL=1: time EVERY registered query (headline
    # first, then the rest in registry order) — the evidence page for
    # "no family is pathologically slow", not the driver contract
    # (the driver runs the default headline set).
    if os.environ.get("SPARK_GRAFT_BENCH_ALL") == "1" and not subset:
        names = HEADLINE + [n for n in registry if n not in HEADLINE]
    spark = get_spark(app_name="nve-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(df):
        df.write.mode("overwrite").format("noop").save()

    # warm the JVM, parquet footer caches, and the Python/Arrow workers
    # (pandas UDF executor processes fork lazily on first use).
    # Best-effort: a partial scale dir (e.g. .scale/sf10, which carries
    # only the tables its target families read) may lack a warmup
    # query's input — that must not kill the run.
    for warm_name, warm_dir in (
        ("agg_group_sum", SF_DIR),
        ("chunk_explode", "/root/testdata/sf0.001"),
        ("multimodal_decode_stub", "/root/testdata/sf0.001"),
    ):
        try:
            run(registry[warm_name].fn(spark, warm_dir))
        except Exception:
            pass

    timings: dict[str, float] = {}
    meta: dict[str, dict] = {}
    for name in names:
        fn = _flagship_query if name == "flagship_pipeline" else registry[name].fn
        # min over trials: single-trial numbers on this host swing
        # 2-10x from external load (measured 4s vs 22s for identical
        # code at load avg ~6). Two trials normally; if they disagree
        # by >2x the host was noisy, so take one more.
        # release_cache BEFORE each timed trial, not once after all
        # trials: queries that persist() intermediates (minhash's
        # exact-pair set, pagerank's nodes/edges_deg) build
        # plan-canonically-identical DAGs on every call, so trial 2
        # would otherwise hit trial 1's cache and min(trials) would
        # exclude the persisted work entirely.
        # SPARK_GRAFT_BENCH_WARM=1: one UNTIMED execution per query
        # before its timed trials. The iterative operators (BFS,
        # pagerank, label propagation) compile dozens of small codegen
        # classes; their first 2-3 executions in a session are
        # JIT-dominated (measured 17.8 -> 12.0 -> 5.9 -> 4.7 s for
        # graph_reachability at sf1), so cold min-of-2 numbers measure
        # the JIT, not the plan. Default OFF: the driver-recorded
        # BENCH_r{N} keeps the cross-round cold-min methodology; the
        # scale-evidence pages (SCALE_SMOKE_R7.md) record warm numbers
        # and say so.
        if os.environ.get("SPARK_GRAFT_BENCH_WARM") == "1":
            release_cache()
            run(fn(spark, SF_DIR))

        def one_trial():
            release_cache()
            # the Bloom sketch memo (operators/bloom.py) would otherwise
            # make trial 2+ memo-warm while every other query is cold —
            # min-of-trials must compare like with like across rounds
            clear_sketch_memo()
            return _timed_trial(lambda: run(fn(spark, SF_DIR)))

        canary = _cpu_canary()
        # (elapsed, ext_cores, io_cores, loadavg1, steal_cores) per trial
        trials = [one_trial() for _ in range(n_trials)]
        # disagreeing trials (>2x) = the host was noisy: one more look
        if max(t[0] for t in trials) > 2 * min(t[0] for t in trials):
            trials.append(one_trial())

        def _contended(t):
            return t[1] > EXT_CORES_MAX or t[2] > IO_CORES_MAX

        # contention guard (module comment): if every trial so far ran
        # under external CPU or storage pressure, spend up to 2 extra
        # trials hunting for a quiet one — the min should come from
        # uncontended trials
        extra = 0
        while all(_contended(t) for t in trials) and extra < 2:
            trials.append(one_trial())
            extra += 1
        quiet = [t for t in trials if not _contended(t)]
        pick = min(quiet or trials, key=lambda t: t[0])
        timings[name] = round(pick[0], 3)
        meta[name] = {
            "loadavg": round(pick[3], 2),
            "ext_cores": round(pick[1], 2),
            "io_cores": round(pick[2], 2),
            "steal_cores": round(pick[4], 2),
            "canary_sec": canary,
            "contended": not quiet,
            "trials": len(trials),
        }
        # also drop residue before the next query's first trial
        release_cache()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    canaries = [m["canary_sec"] for m in meta.values()]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # additions-only host-speed summary (VERDICT r14 #6): per-query
        # canary_sec/steal_cores live in the stderr audit line; this
        # compact min/max keeps the stdout contract line short enough
        # for bounded-tail recorders while still flagging a run taken
        # in a slow window (canary min far above the ~0.1 s quiet-box
        # value, or spread >> 1).
        "host": {
            "canary_sec_min": min(canaries) if canaries else None,
            "canary_sec_max": max(canaries) if canaries else None,
            "steal_cores_max": max(
                (m["steal_cores"] for m in meta.values()), default=None
            ),
        },
    }
    # Stream separation (VERDICT r12 #1/#8): STDOUT carries exactly ONE
    # compact contract line — a recorder that keeps only a bounded tail
    # of stdout (the r11/r12 tails truncated the first query's key and
    # needed manual reconstruction) can json.loads it directly. The
    # RICH audit line — per-query {loadavg, ext_cores, io_cores,
    # contended, trials}, making the 2x gate mechanically auditable
    # instead of prose-disclosed — goes to STDERR, where the evidence
    # pages (BENCH_FULL_r*.md) collect it.
    import sys

    print(
        json.dumps(
            {
                **out,
                "meta": meta,
                "ext_cores_max": EXT_CORES_MAX,
                "io_cores_max": IO_CORES_MAX,
            }
        ),
        file=sys.stderr,
    )
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
