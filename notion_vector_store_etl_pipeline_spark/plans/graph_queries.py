"""Graph traversal queries (SURVEY.md §2.9): the reference's recursive
crawl as iterative frontier expansion over an edge relation derived
from the star schema (region -> nation -> customer -> orders), with
anti-join cycle detection. Oracle: recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators.cache import (
    persist as _persist,
)
from notion_vector_store_etl_pipeline_spark.operators.traversal import (
    bfs_reachability,
    expand_frontier,
)
from notion_vector_store_etl_pipeline_spark.plans import register
from notion_vector_store_etl_pipeline_spark.sources import load_table

_EDGES_CTE = """
WITH RECURSIVE edges AS (
  SELECT 'R' || CAST(n_regionkey AS VARCHAR) AS src, 'N' || CAST(n_nationkey AS VARCHAR) AS dst
  FROM nation
  UNION ALL
  SELECT 'N' || CAST(c_nationkey AS VARCHAR), 'C' || CAST(c_custkey AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'C' || CAST(o_custkey AS VARCHAR), 'O' || CAST(o_orderkey AS VARCHAR) FROM orders
)
"""


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    e1 = nation.select(
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("dst"),
    )
    e2 = customer.select(
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("dst"),
    )
    e3 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    return e1.unionByName(e2).unionByName(e3)


def _seeds(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([("R0",), ("R1",)], "node: string")


@register(
    "graph_reachability",
    oracle=_EDGES_CTE
    + """
    , walk(node, depth) AS (
      SELECT node, 0 FROM (VALUES ('R0'), ('R1')) s(node)
      UNION ALL
      SELECT e.dst, w.depth + 1 FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < 10
    )
    SELECT node, CAST(min(depth) AS INTEGER) AS depth FROM walk GROUP BY node
    """,
    doc="Full BFS reachability with first-discovery depth (reference crawl "
    "`:480-596`; cycle detection = anti-join vs visited, `:492-494`). "
    "RECOMMENDED AT SCALE over `graph_reachability_sql`: edges are "
    "hash-partitioned+persisted once, the frontier broadcasts under a "
    "500k-row guard, and the visited anti-join dedups every level, so "
    "per-level work stays bounded — 10x data costs ~1.3x wall-clock at "
    "both sf decades (SCALE_SMOKE_R6.md) vs the recursive-CTE's 2.8x.",
)
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = build_edges(spark, sf_dir)
    return bfs_reachability(edges, _seeds(spark), max_depth=10)


@register(
    "graph_reachability_sql",
    oracle=_EDGES_CTE
    + """
    , walk(node, depth) AS (
      SELECT node, 0 FROM (VALUES ('R0'), ('R1')) s(node)
      UNION ALL
      SELECT e.dst, w.depth + 1 FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < 10
    )
    SELECT node, CAST(min(depth) AS INTEGER) AS depth FROM walk GROUP BY node
    """,
    doc="Same reachability as `graph_reachability`, but via Spark 4's "
    "native WITH RECURSIVE (UnionLoop execution) instead of the "
    "driver-side iterative loop. DECLARATIVE/PORTABILITY VARIANT, not "
    "the scale path: UnionLoop re-scans+re-shuffles the edge relation "
    "each iteration and carries the undeduplicated walk between levels, "
    "so it grows ~2.8x per 10x data vs the loop's ~1.3x "
    "(SCALE_SMOKE_R6.md sf1 decade). Round 7 re-examined the gap with "
    "a controlled A/B at sf1: persisting the edge relation (plain or "
    "pre-partitioned on src, the treatment bfs_reachability gives its "
    "loop-invariant edges) makes UnionLoop SLOWER (bare 6.7 s vs "
    "persisted 7.2 s vs persisted+repartitioned 7.2-16.8 s) — the "
    "cache write plus the extra 1.5M-row exchange cost more than "
    "re-deriving the cheap scan+concat union per iteration. The "
    "residual decade growth is the work bound of UnionLoop itself "
    "(it carries the undeduplicated walk between levels; the loop's "
    "visited anti-join is what removes that term), so the variant is "
    "kept bare and the scale recommendation stays with "
    "graph_reachability (PLANS.md 'Recursive CTE vs driver loop'). "
    "Kept registered: it is the SQL-only surface for the same oracle "
    "and an independent cross-check of the loop implementation. "
    "Round 8 found the third decade blocked: Spark's 1M-row recursion "
    "safety limit ABORTS the sf10 walk (RECURSION_ROW_LIMIT_EXCEEDED, "
    "SCALE_SMOKE_R8.md §1d). Round 10 closed that: the limit is a "
    "plain config (spark.sql.cteRecursionRowLimit), this query raises "
    "it to a large finite ceiling — the conf is read at execution "
    "time so it outlives the call; a finite value keeps the runaway "
    "guard for the rest of the session (termination here stays doubly "
    "bounded by the walk's depth < 10 predicate and the "
    "cteRecursionLevelLimit=100 level guard), and "
    "the measured sf10 result is rows-identical to the loop at 1.4x "
    "its wall-clock (26.9 s vs 19.4 s cold — SCALE_SMOKE_R10.md §3). "
    "No longer engine-refused anywhere; the loop remains the "
    "recommendation at 100x for the growth-term reason above.",
)
def graph_reachability_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the default 1M-row recursion guard aborts legitimate deep-corpus
    # walks (measured at sf10); depth stays bounded by the WHERE
    # predicate + the level-limit guard. The conf is read at UnionLoop
    # EXECUTION time (after this returns, lazily), so it cannot be
    # save/restored here — it necessarily outlives the call. Raise it
    # to a large FINITE ceiling rather than -1: 1e9 is three decades of
    # headroom over the measured sf10 need while still aborting a
    # genuinely runaway recursion elsewhere in the session before it
    # eats the executors (-1 would disable the guard session-wide).
    spark.conf.set("spark.sql.cteRecursionRowLimit", "1000000000")
    build_edges(spark, sf_dir).createOrReplaceTempView("crawl_edges")
    _seeds(spark).createOrReplaceTempView("crawl_seeds")
    return spark.sql(
        """
        WITH RECURSIVE walk(node, depth) AS (
          SELECT node, 0 FROM crawl_seeds
          UNION ALL
          SELECT e.dst, w.depth + 1
          FROM walk w JOIN crawl_edges e ON e.src = w.node
          WHERE w.depth < 10
        )
        SELECT node, CAST(min(depth) AS INT) AS depth FROM walk GROUP BY node
        """
    )


@register(
    "traversal_step",
    oracle=_EDGES_CTE
    + """
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN (VALUES ('R0'), ('R1')) s(node) ON e.src = s.node
    """,
    doc="Single frontier expansion (reference `:581-593`).",
)
def traversal_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = build_edges(spark, sf_dir)
    return expand_frontier(_seeds(spark), edges)


_PR_D = 0.85
_PR_ITERS = 3


@register(
    "graph_pagerank",
    oracle=_EDGES_CTE.replace("WITH RECURSIVE", "WITH")
    + """
    , nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
      )
    ), nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    in1 AS (SELECT e.dst, sum(p.rank / d.outdeg) AS v
            FROM edges e JOIN pr0 p ON p.node = e.src JOIN deg d ON d.src = e.src
            GROUP BY e.dst),
    pr1 AS (SELECT n.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(i.v, 0) AS rank
            FROM nodes n LEFT JOIN in1 i ON i.dst = n.node),
    in2 AS (SELECT e.dst, sum(p.rank / d.outdeg) AS v
            FROM edges e JOIN pr1 p ON p.node = e.src JOIN deg d ON d.src = e.src
            GROUP BY e.dst),
    pr2 AS (SELECT n.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(i.v, 0) AS rank
            FROM nodes n LEFT JOIN in2 i ON i.dst = n.node),
    in3 AS (SELECT e.dst, sum(p.rank / d.outdeg) AS v
            FROM edges e JOIN pr2 p ON p.node = e.src JOIN deg d ON d.src = e.src
            GROUP BY e.dst),
    pr3 AS (SELECT n.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(i.v, 0) AS rank
            FROM nodes n LEFT JOIN in3 i ON i.dst = n.node)
    SELECT node, round(rank, 9) AS rank FROM pr3
    """,
    doc="PageRank, 3 fixed power iterations (damping 0.85, no dangling "
    "redistribution) over the R->N->C->O edge relation — the standard "
    "iterative-analytics shape on Spark: per iteration ONE join "
    "(ranks x edges on src, out-degrees pre-joined once) and ONE "
    "aggregation (sum contributions by dst), both hash-partitioned on "
    "the same key so the exchanges line up across iterations. The "
    "oracle unrolls the same three iterations as chained CTEs. Ranks "
    "are emitted at round 9 (in-degrees here are tiny, so double "
    "accumulation is order-stable well past 9 digits).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = build_edges(spark, sf_dir)
    # loop-invariant inputs are persisted EAGERLY: without the cache,
    # every iteration's lineage re-derives nodes (a union+distinct
    # shuffle over three parquet scans) and the edge⋈degree join —
    # the final unrolled plan pays them 3-4x (measured ~2x end-to-end
    # at sf0.1). This is the standard iterative-analytics contract on
    # Spark: materialize what every iteration reads, shuffle only the
    # rank updates.
    # operators.cache.persist: the unrolled plan reads these caches
    # after this function returns, so they can't be unpersisted here;
    # long-lived sessions (parity sweep, driver) free them via
    # release_cache() between queries
    nodes = _persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = _persist(edges.join(deg, "src").select("src", "dst", "outdeg"))
    # ONE action materializes BOTH loop-invariant caches: the two agg
    # subtrees are independent, so their stages run concurrently and
    # back-fill each other's stragglers (guide §2.6) — sequential
    # count() + count() paid two jobs and serialized the two
    # materializations (r15). n is the scalar loop parameter below. Each
    # branch carries a tag and n is picked by it: a union's row order
    # follows its children's task order, which Spark does not promise.
    counts = {
        r["t"]: r["c"]
        for r in nodes.agg(F.lit("nodes").alias("t"), F.count(F.lit(1)).alias("c"))
        .unionAll(edges_deg.agg(F.lit("edges").alias("t"), F.count(F.lit(1)).alias("c")))
        .collect()
    }
    n = counts["nodes"]

    ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
    for _ in range(_PR_ITERS):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contribs, nodes.node == contribs.dst, "left").select(
            "node",
            (
                F.lit(0.15 / n) + F.lit(_PR_D) * F.coalesce("in_sum", F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 9).alias("rank"))
