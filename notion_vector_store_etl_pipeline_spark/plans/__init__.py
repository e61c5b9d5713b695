"""Named-query registry — the contract surface consumed by
``__spark_entry__.py``.

Every operator from SURVEY.md §2 lands here as a ``Query``: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent DuckDB oracle SQL over the pre-registered fixture views
(region nation customer supplier part orders lineitem events documents
embeddings). Column names/aliases MUST match between the two sides —
the driver sorts columns by name and hashes values.

Registry contract caveat: a few queries whose plan reads a heavy
intermediate from multiple branches persist it EAGERLY at fn() call
time (hll_sketch_union, the prefix-filter jaccard family) — for those,
fn() launches a Spark job before the caller runs any action. More
queries persist lazily (the minhash/jaccard dedup family, BFS,
pagerank, the blocked IVF family); every such cache outlives fn()
because the returned plan reads it, and is held until
``operators.cache.release_cache()`` clears the session's cache.
Long-lived sessions that loop over the registry should release between
queries, as bench.py and scripts/parity_check.py do.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, or None -> driver does a rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str] = None, doc: str = ""):
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Registration order matters operationally: the correctness driver
# samples a prefix window of the registry (the first ~50), so the
# window is spent deliberately. Round-6 completed cross-round driver
# verification of the entire registry (157/157, see VERDICT r6); from
# round 7 on the window is a ROTATION: (a) queries added or changed
# this round, which need a fresh proof row, then (b) the queries whose
# latest green driver row is OLDEST (re-validation breadth — r1
# vintage first, then r4), recomputed each round from the
# CORRECTNESS_r0*.json files.
_PRIORITY = (
    # (a) operators changed since their last proof rows (9): the minhash
    # family because minhash_lsh_candidates now pairs buckets from one
    # (band, bucket) aggregation and the verify shares its set math
    # with the stream probe (jaccard_verify_sets); the r15-changed trio
    # (ngram_jaccard_selfjoin's single-window stop-shingle cap, the
    # components/BFS driver loop, pagerank's primed caches) that never
    # got its after-change proof row; stale_detect, whose delete set
    # plan_increment now derives from to_process.
    "dedup_chain_sequential",
    "minhash_lsh_neardup",
    "minhash_neardup_components",
    "minhash_incremental_probe",
    "minhash_probe_stored_index",
    "ngram_jaccard_selfjoin",
    "graph_reachability",
    "graph_pagerank",
    "stale_detect",
    # (b) oldest proof rows first (scripts/coverage_manifest.py after
    # round 15): the whole remaining round-11 vintage (31 names here
    # plus stale_detect in (a), age 4 — at the budget), so after this
    # window the oldest proof is r12.
    "knn_topk",
    "lateral_top_item",
    "levenshtein_neardup_titles",
    "map_explode_props",
    "mixture_rebalance_lang",
    "multimodal_decode_arrow",
    "multimodal_decode_stub",
    "needs_vector_flag",
    "ngram_jaccard_prefixfilter",
    "ngram_jaccard_prefixfilter_capped",
    "outlier_mad_filter",
    "parse_bool_int",
    "pit_interval_lookup",
    "point_lookup",
    "project_coalesce",
    "scan_union_seed",
    "semi_join_filter",
    "setop_except",
    "setop_except_all",
    "setop_intersect",
    "setop_intersect_all",
    "simhash_buckets",
    "simhash_neardup",
    "sort_topk",
    "state_load",
    "topk_per_group",
    "tpch_q15_top_supplier",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "union_schema_evolution",
    "url_basename",
    # (c) round-12-vintage alphabetical fill to exactly 50 (the
    # driver's sample size, pinned in tests/test_fixture_canary.py);
    # the rest of the r12 vintage leads the next rotation.
    "agg_percentiles",
    "agg_stats_corr",
    "agg_status_counts",
    "agg_string_concat",
    "cogroup_conversion_stats",
    "curation_funnel",
    "date_arithmetic",
    "dedup_exact_hash",
    "doc_fingerprint",
    "every_nth_row",
)

_MODULES = (
    "dedup_queries",
    "pipeline_queries",
    "vector_queries",
    "strings_queries",
    "graph_queries",
    "curation_queries",
    "relational",
    "retrieval_queries",
    "text_queries",
    "multimodal_queries",
    "training_queries",
    "analytic_queries",
    "timeseries_queries",
    "tpch_queries",
    "tpch_more",
    "tpch_rest",
    "extended_queries",
    "grouped_queries",
    "event_queries",
    "relational_more",
    "chunk_queries",
    "incremental_queries",
)


def load_registry() -> dict[str, Query]:
    """Import all query modules (idempotent) and return the registry,
    reordered so _PRIORITY names lead (the driver's sample window is a
    prefix of this dict's iteration order)."""
    for mod in _MODULES:
        importlib.import_module(f"notion_vector_store_etl_pipeline_spark.plans.{mod}")
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise KeyError(f"_PRIORITY names not registered: {missing}")
    head = {n: REGISTRY[n] for n in _PRIORITY}
    tail = {n: q for n, q in REGISTRY.items() if n not in head}
    return {**head, **tail}
