"""Iterative graph traversal (SURVEY.md §2.9) — the reference's
recursive crawl (`Notion_openai_vector_etl.py:480-596`) as a
driver-side loop of DataFrame joins with anti-join cycle detection
(the `visited_pages` set, `:492-494`).

Each iteration: frontier ⋈ edges → children; anti-join against
visited; union into visited with depth = iteration index. Terminates
at fixpoint (empty frontier) or ``max_depth`` (the MAX_PAGES analogue).

Scale notes: `visited` grows monotonically — it is persisted each
round so the anti-join doesn't recompute the whole lineage, and the
join keys stay the same across iterations so the shuffle partitioning
is reused. For bounded-depth hierarchies (the common case) this is a
handful of shuffles; unbounded graphs would move to GraphFrames/Pregel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# BFS persists the edge relation and every level's frontier: the
# returned union reads those caches, so they must outlive the call
# (release_cache() frees them between queries). connected_components
# returns a checkpointed frame, so its pins live in a cache_scope and
# die with the call.
from notion_vector_store_etl_pipeline_spark.operators.cache import (
    cache_scope,
    persist as _persist,
)


def bfs_reachability(
    edges: DataFrame,  # (src, dst)
    seeds: DataFrame,  # (node)
    max_depth: int = 20,
    broadcast_rows: int = 500_000,
) -> DataFrame:
    """Return (node, depth) for every node reachable from seeds,
    depth = first-discovery level (seeds at 0).

    Join strategy is chosen per level from the frontier/visited row
    counts (known exactly — each level is counted to test the
    fixpoint): a frontier under ``broadcast_rows`` is broadcast into
    the expand join so the big edge relation never shuffles, and the
    visited set is broadcast into the cycle-detection anti-join the
    same way. BFS frontiers on hierarchical data are usually tiny
    relative to edges, so the common case runs one shuffle per level
    (the dedup) instead of three; a frontier that outgrows the
    threshold falls back to shuffle joins automatically.
    """
    # One upfront hash-partition on src, then persist: every level's
    # expand join reads the cached layout at full parallelism (a raw
    # union of file scans can cache with very few partitions), and if a
    # level falls back to a shuffle join, edges are already on the key.
    edges = _persist(edges.repartition("src"))
    # Distinct source nodes, for leaf pruning of BIG frontiers (guide
    # §2.3/§3.2: shrink the shuffled side before the shuffle): a
    # frontier node with no out-edge contributes nothing to the expand
    # join, and deep-frontier levels are routinely leaf-heavy (the last
    # BFS level over a hierarchy is ALL leaves — profiled at sf0.1 as
    # the single most expensive level, shuffling 1.5M rows to produce 0).
    # Lazily persisted: never materialized unless a frontier outgrows
    # broadcast_rows; the semi-join shares the expand join's key, so its
    # exchange is reused rather than added.
    srcs = _persist(edges.select(F.col("src").alias("node")).dropDuplicates())
    frontier = _persist(seeds.select("node").dropDuplicates())
    frontier_n = frontier.count()
    levels = [frontier.withColumn("depth", F.lit(0))]
    visited = frontier  # union of all levels' nodes
    visited_n = frontier_n

    for depth in range(1, max_depth + 1):
        if frontier_n <= broadcast_rows:
            f = F.broadcast(frontier)
        else:
            f = frontier.join(srcs, "node", "left_semi")
        v = F.broadcast(visited) if visited_n <= broadcast_rows else visited
        frontier = (
            f.join(edges, f.node == edges.src)
            .select(F.col("dst").alias("node"))
            .dropDuplicates()
            .join(v, "node", "left_anti")
        )
        frontier = _persist(frontier)
        # count() (not isEmpty) so the persist is FULLY materialized —
        # isEmpty touches one partition and leaves the rest to be
        # recomputed by the next level's join
        frontier_n = frontier.count()
        if frontier_n == 0:
            break
        levels.append(frontier.withColumn("depth", F.lit(depth)))
        visited = visited.unionByName(frontier)
        visited_n += frontier_n
        # bounded-depth loops keep lineage shallow; cut it only when deep
        if depth % 8 == 0:
            visited = visited.localCheckpoint(eager=True)

    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


def expand_frontier(frontier: DataFrame, edges: DataFrame) -> DataFrame:
    """One traversal step (reference `:581-593`): frontier -> children."""
    return (
        frontier.join(edges, frontier.node == edges.src)
        .select(F.col("dst").alias("node"))
        .dropDuplicates()
    )


def connected_components(
    edges: DataFrame,  # (src, dst) — treated as undirected
    nodes: DataFrame,  # (node)
    max_iters: int = 20,
    broadcast_rows: int = 500_000,
) -> DataFrame:
    """(node, component_id) with component_id = min node id reachable.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; fixpoint after O(graph
    diameter) rounds. Near-dup graphs are unions of small cliques, so
    this converges in 2-3 rounds. Labels re-aggregate on the node key
    each round — one shuffle per round; the label table is broadcast
    into the propagation join while it stays small.
    """
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    from pyspark.sql.types import DecimalType, IntegralType

    with cache_scope() as c:
        und = c.persist(und.repartition("src"))
        labels = c.persist(nodes.select("node", F.col("node").alias("label")))
        # INTEGRAL node ids (every engine caller: doc_id/vec_id longs) get
        # the cheap sum-based convergence check in _propagate; everything
        # else falls back to the join check. Scale-0 decimals are integral
        # too; fractional types (Double/Float, decimal with scale > 0) are
        # deliberately EXCLUDED (ADVICE r14): cast('decimal(38,0)') rounds,
        # so distinct fractional labels can collapse to equal sums and the
        # loop would declare convergence while labels are still changing.
        # Strings cast to NULL, same failure mode.
        dt = labels.schema["label"].dataType
        numeric = isinstance(dt, IntegralType) or (
            isinstance(dt, DecimalType) and dt.scale == 0
        )
        if numeric:
            # one job primes the cache AND seeds the convergence invariant:
            # row count (broadcast decision) + label sum (see _propagate).
            # collect(), not first(): first() is executeTake, which probed
            # the 1-row aggregate with 2-3 incremental jobs (profiled r15).
            n_nodes, label_sum = labels.agg(
                F.count(F.lit(1)), F.sum(F.col("label").cast("decimal(38,0)"))
            ).collect()[0]
        else:
            n_nodes, label_sum = labels.count(), None
        return _propagate(
            und, labels, n_nodes, label_sum, numeric, max_iters, broadcast_rows
        )


def _propagate(
    und, labels, n_nodes, label_sum, numeric, max_iters, broadcast_rows
) -> DataFrame:
    for _ in range(max_iters):
        lab = F.broadcast(labels) if n_nodes <= broadcast_rows else labels
        prop = und.join(lab, und.dst == lab.node).select(
            F.col("src").alias("node"), "label"
        )
        agg = (
            labels.unionByName(prop).groupBy("node").agg(F.min("label").alias("label"))
        )
        # `agg` is pinned for its round only (one scope per round). The
        # path-halving self-join below consumes `agg` on two
        # DIFFERENT keys (a.label vs b.node), so its two exchanges are
        # not canonically equal and exchange reuse cannot fire — without
        # a cache each side re-runs the whole propagation join+aggregate
        # (profiled r15: two ~equal heavy jobs per round). Persist and
        # materialize it ONCE; both exchanges then read the cache
        # (guide §5: cache a frame with >1 consumer when recompute is
        # the expensive path). For integral ids the materializing action
        # is the convergence check below: sum(agg) primes the cache in
        # the SAME job. Other ids have no such job, so the pin is eager:
        # a lazy one would be raced by the two self-join exchanges.
        with cache_scope() as c:
            agg = c.persist(agg, eager=not numeric)
            # Convergence, integral ids: the PRE-halving label sum stopped
            # shrinking. Labels are non-increasing (the min-aggregate
            # includes the node's own label; halving substitutes a label's
            # label, itself ≤), so sum(agg_k) is non-increasing and
            # sum(agg_{k+1}) == sum(agg_k) forces agg_{k+1} == labels_k ==
            # agg_k pointwise: propagation changed nothing, labels are
            # constant across every edge, hence equal to the component min,
            # and halving is the identity — the previous round's labels ARE
            # the fixpoint, so the final halving join is skipped too.
            # decimal(38,0): exact, no 64-bit overflow for any realistic
            # node-id domain. Non-integral ids keep the join-based check.
            if numeric:
                new_sum = agg.agg(
                    F.sum(F.col("label").cast("decimal(38,0)"))
                ).collect()[0][0]
                # Overflow hardening (ADVICE r14): a decimal(38,0) overflow
                # makes F.sum return NULL on both sides and None == None
                # would silently declare convergence — treat a None sum as
                # "changed" so overflow degrades to extra rounds, never to
                # early exit. Exception: an EMPTY node set also sums to
                # NULL, and there n_nodes==0 proves the (empty) fixpoint.
                if new_sum == label_sum and (new_sum is not None or n_nodes == 0):
                    break
                label_sum = new_sum
            # pointer jumping (path halving): follow node -> label -> label's
            # label in the same round, so convergence is O(log diameter)
            # rounds instead of O(diameter) — the difference between 4 and 40
            # shuffles on a long near-dup chain
            a, b = agg.alias("a"), agg.alias("b")
            new_labels = a.join(b, F.col("a.label") == F.col("b.node")).select(
                F.col("a.node").alias("node"), F.col("b.label").alias("label")
            )
            # localCheckpoint (not just persist): each round's plan references
            # the previous round's, so without truncation the logical plan
            # doubles per iteration and planning itself OOMs long before the
            # data does
            new_labels = new_labels.localCheckpoint(eager=True)
            if not numeric:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "node")
                    .filter(F.col("n.label") != F.col("o.label"))
                    .limit(1)
                    .count()
                )
            else:
                changed = 1
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component_id"))
