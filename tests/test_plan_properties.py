"""Physical-plan property gate — PLANS.md, automated. Each assertion
pins a scale-critical property of a query's compiled plan (filter
pushed into the scan, broadcast instead of shuffle, per-partition
top-k pruning, map-side partial aggregation). If a refactor silently
trades one of these away, this fails before any benchmark moves.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from notion_vector_store_etl_pipeline_spark.plans import load_registry

from tests.conftest import SF_SMOKE

REGISTRY = load_registry()


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CASES = [
    # (query, must-contain fragments, must-NOT-contain fragments)
    ("agg_group_sum", ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"], []),
    ("tpch_q1_pricing_summary", ["HashAggregate", "Exchange"], ["SortMergeJoin"]),
    ("tpch_q6_forecast_revenue", ["GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate"], []),
    # must-not is " Sort (" — the formatted tree renders nodes as
    # "+- Sort (3)", so the old "Sort [" fragment could never match
    # ANY plan and the no-global-sort half of this pin was vacuous
    ("sort_topk", ["TakeOrderedAndProject"], [" Sort ("]),
    ("topk_per_group", ["WindowGroupLimit"], []),
    ("tfidf_top_terms", ["WindowGroupLimit", "BroadcastHashJoin"], []),
    ("join_broadcast_dim", ["BroadcastHashJoin"], ["SortMergeJoin"]),
    ("tpch_q19_or_predicates", ["Or(", "BroadcastHashJoin"], ["CartesianProduct"]),
    ("filter_isin_notnull", ["In(event_type"], []),
    ("label_centroids", ["Generate", "posexplode", "HashAggregate"], []),
    ("curation_funnel", ["WindowGroupLimit"], []),
    ("tpch_q4_order_priority", ["LeftSemi"], []),
    # r7 aggregate rewrite: sole-late-supplier via per-order
    # countDistinct census, never lineitem self-joins (the semi/anti
    # formulation shuffled lineitem 3x and grew 3.81x/decade at sf1)
    (
        "tpch_q21_waiting_supplier",
        ["HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "LeftSemi", "LeftAnti"],
    ),
    ("tpch_q16_supplier_count", ["LeftAnti"], []),
    ("knn_topk", ["MapInPandas"], ["CartesianProduct"]),
    # blocked fuzzy match: hash join on the blocking key, never a cross
    # product (VERDICT r4 item 6)
    (
        "levenshtein_neardup_titles",
        ["HashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # r7: the declarative BFS must stay native WITH RECURSIVE
    # (UnionLoop) over the BARE edge union — the controlled sf1 A/B
    # showed persisting/pre-partitioning the edges makes UnionLoop
    # slower (cache write + extra exchange beat re-deriving a cheap
    # scan+concat union), so InMemory residue here means someone
    # re-added the pessimization
    ("graph_reachability_sql", ["UnionLoop"], ["InMemoryTableScan"]),
    # r7 near-dup family: candidate generation is always a hash join on
    # (band, bucket) — an all-pairs product sneaking in here is the
    # exact 100 TB failure the star guard exists to prevent
    ("minhash_lsh_neardup", [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    ("minhash_incremental_probe", [], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
]


@pytest.mark.parametrize("name,must,must_not", CASES, ids=[c[0] for c in CASES])
def test_plan_keeps_scale_properties(spark, name, must, must_not):
    plan = plan_of(spark, name)
    for frag in must:
        assert frag in plan, f"{name}: expected {frag!r} in plan\n{plan[:4000]}"
    for frag in must_not:
        assert frag not in plan, f"{name}: unwanted {frag!r} in plan\n{plan[:4000]}"


def test_partial_aggregation_before_exchange(spark):
    """Map-side combine: the PARTIAL HashAggregate must sit BELOW the
    exchange feeding the final aggregate. The formatted tree numbers
    leaves lowest, so the ordering claim is partial-id < exchange-id <
    final-id — counting node occurrences alone (the old assert) would
    pass even with both aggregates above the exchange (r10 test
    review)."""
    import re

    plan = plan_of(spark, "tpch_q1_pricing_summary")
    agg_ids = [int(i) for i in re.findall(r"HashAggregate \((\d+)\)", plan)]
    ex_ids = [int(i) for i in re.findall(r"Exchange \((\d+)\)", plan)]
    partial_ids = [
        int(i)
        for i in re.findall(
            r"\((\d+)\) HashAggregate\n(?:[^\n(]*\n)*?Functions \[\d+\]: \[partial_",
            plan,
        )
    ]
    assert partial_ids, f"no partial HashAggregate in plan\n{plan[:4000]}"
    assert ex_ids, f"no Exchange in plan\n{plan[:4000]}"
    partial = min(partial_ids)
    final = max(i for i in agg_ids if i not in partial_ids)
    exchange = min(i for i in ex_ids if partial < i < final + 1)
    assert partial < exchange < final, (
        f"partial {partial} / exchange {exchange} / final {final} out of "
        f"map-side-combine order\n{plan[:4000]}"
    )


BROADCAST_HINTED = ["join_broadcast_dim", "tfidf_top_terms", "tpch_q19_or_predicates"]


@pytest.mark.parametrize("name", BROADCAST_HINTED)
def test_broadcast_comes_from_the_hint_not_table_size(spark, name):
    """At sf0.001 every table sits far under the 10MB auto-broadcast
    threshold, so 'BroadcastHashJoin present' in the CASES table is
    satisfiable by size estimation alone — remove the query's explicit
    F.broadcast() hint and that pin stays green while the at-scale
    property regresses (r10 test review). Compiling with auto-broadcast
    DISABLED, a BroadcastHashJoin can only come from the hint."""
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert "BroadcastHashJoin" in plan, (
        f"{name}: no BroadcastHashJoin with auto-broadcast disabled — "
        f"the explicit broadcast hint is gone\n{plan[:4000]}"
    )
    assert "SortMergeJoin" not in plan, plan[:4000]


def test_winnowing_hash_array_materialized_once(spark):
    """HOF-lambda CSE regression gate (PLANS.md "Array HOF lambdas"):
    the md5 shingle-hash transform must appear exactly once in the
    compiled plan. If the `h` array is ever inlined back into the
    window-min lambda (CollapseProject or a refactor), md5 shows up in
    two projections and the hashing goes O(n_words^2) per document."""
    plan = plan_of(spark, "winnowing_fingerprint")
    assert plan.count("md5") == 1, plan[:4000]


def _executed_nodes(df) -> list[str]:
    """One-line strings of the physical operators a fresh action on
    ``df`` runs. An ``InMemoryTableScan`` is a leaf here: the plan of a
    cached relation ran when the cache filled, not in this action."""
    stack = [df.select("*")._jdf.queryExecution().executedPlan()]
    out = []
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        out.append(node.simpleString(100))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_batch_cli_run_hashes_and_chunks_once(spark, tmp_path, capsys):
    """The batch CLI's plans (PLANS.md "batch CLI run"): with no state
    the snapshot⋈state join folds away; once ``count_run`` has pinned
    its two frames, the records and the state commit read the chunker
    output from cache, and the stale count reads ``to_process`` instead
    of re-scanning (and re-hashing) the documents."""
    from notion_vector_store_etl_pipeline_spark.__main__ import (
        build_snapshot,
        count_run,
        load_state,
        main,
    )
    from notion_vector_store_etl_pipeline_spark.operators.cache import cache_scope
    from notion_vector_store_etl_pipeline_spark.pipeline import run_pipeline

    state = str(tmp_path / "state")
    cold = run_pipeline(build_snapshot(spark, SF_SMOKE), load_state(spark, state))
    nodes = _executed_nodes(cold.plan.to_process)
    assert not [n for n in nodes if "Join" in n or "ExistingRDD" in n], nodes

    assert main(["--data-dir", SF_SMOKE, "--state-path", state,
                 "--output-dir", str(tmp_path / "out")]) == 0
    capsys.readouterr()
    rerun = run_pipeline(build_snapshot(spark, SF_SMOKE), load_state(spark, state))
    with cache_scope() as c:
        count_run(rerun, c)
        for name, df in (("records", rerun.records), ("next_state", rerun.next_state)):
            nodes = _executed_nodes(df)
            assert not [n for n in nodes if "ArrowEvalPython" in n], (name, nodes)
        nodes = _executed_nodes(rerun.stale_vectors.groupBy().count())
        assert not [n for n in nodes if "documents.parquet" in n], nodes


def test_probe_batch_plans_no_exchange_over_the_page(spark, tmp_path, monkeypatch):
    """The stream's dedup probe (PLANS.md "stream probe"): a micro-batch
    is bound by its job count, and a hash exchange over a page-bounded
    frame is a job of its own. No frame ``probe_batch`` materializes,
    and none it returns, plans an ``Exchange hashpartitioning``: the
    page frames are one partition the planner can size, and the joins
    with the stored index and the corpus broadcast the page side. The
    batch holds an intra-batch pair, so the intra verify runs. The
    policy is "conservative": the "sequential" peel over verified
    pairs is ``operators.dedup.sequential_firstwins_pairs``'s own plan,
    not the probe's, and a single pair resolves the same either way."""
    from pyspark.sql import functions as F

    from notion_vector_store_etl_pipeline_spark.operators import dedup as D
    from notion_vector_store_etl_pipeline_spark.streaming import dedup_stream

    plans = []
    real = dedup_stream.checkpoint_page

    def recording(df, **observed):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, **observed)

    monkeypatch.setattr(dedup_stream, "checkpoint_page", recording)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    D.write_lsh_index(D.build_lsh_index(corpus), str(tmp_path / "lsh"))
    index = D.load_lsh_index(spark, str(tmp_path / "lsh"))
    pair = " ".join(f"pair{i}" for i in range(40))
    extra = spark.createDataFrame([(900001, pair), (900002, pair + " tail")], "doc_id long, text string")
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(extra)
    out = dedup_stream.probe_batch(
        batch, corpus, index, intra_batch=True, return_clean_buckets=True,
        chain_policy="conservative",
    )
    assert (900002, 900001) in {(r.batch_id, r.corpus_id) for r in out[0].collect()}
    plans += [df._jdf.queryExecution().executedPlan().toString() for df in out]
    # six materializations (page, buckets, candidates, verify, intra
    # pairs, intra verify) and the three outputs
    assert len(plans) == 9, len(plans)
    for plan in plans:
        assert "Exchange hashpartitioning" not in plan, plan[:4000]
