"""Third analytic wave: CUBE aggregation, time-range window frames,
frame-sensitive first/last/nth value, and embedding-cosine near-dup
dedup (the last north-star dedup variant from the brief).

Events ordering uses exact integer microseconds on both engines
(`unix_micros` ↔ `epoch_us`) so RANGE frames match bit-for-bit; see
`event_queries.py` for the ns→µs convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from notion_vector_store_etl_pipeline_spark.plans import register
from notion_vector_store_etl_pipeline_spark.sources import load_table


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus): all four grouping sets in one "
    "pass, grouping_id disambiguates NULL-filled rollup rows from real NULLs. "
    "Spark expands CUBE before the partial aggregate, so it is still one "
    "shuffle at scale.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag").cast("int") + 2 * F.grouping("l_linestatus").cast("int")).alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_items", "sum_qty")
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ), 2) AS rolling_1h_sum,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_1h_n
    FROM events
    """,
    doc="Per-user trailing-1-hour RANGE frame (value-based, not row-based: "
    "peers at the same timestamp aggregate together; frame bounds are exact "
    "integer microseconds on both engines).",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("rolling_1h_sum"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_n"),
    )


@register(
    "window_first_last",
    oracle="""
    SELECT event_id, user_id, event_type,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    doc="first/last/nth value over an explicit UNBOUNDED-both frame (the "
    "default growing frame makes last_value useless — classic trap); "
    "deterministic tiebreak on event_id.",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH pairs AS (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
      WHERE round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6)
            >= 0.35
    )
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT b_id FROM pairs)
    """,
    doc="Embedding-cosine near-dup dedup (north star): any vector within "
    "cosine 0.35 of a lower-id vector is a duplicate; survivors = anti-join "
    "against the higher-id side of the threshold self-join. Lowest-id-wins "
    "is deterministic and transitive-free (chain dups collapse to the head).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_selfjoin_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dups = cosine_selfjoin_pairs(emb, threshold=0.35).select("b_id").distinct()
    return emb.join(dups, emb.vec_id == dups.b_id, "left_anti").select("vec_id", "label")


@register(
    "hll_sketch_union",
    oracle="""
    WITH per_type AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT event_type, exact_users, TRUE AS union_within_5pct
    FROM per_type
    UNION ALL
    SELECT '<all>' AS event_type,
           (SELECT count(DISTINCT user_id) FROM events) AS exact_users,
           TRUE AS union_within_5pct
    """,
    doc="Mergeable-sketch rollup: per-event_type HLL sketches "
    "(hll_sketch_agg) re-aggregated into a global estimate with "
    "hll_union_agg — the 100 TB pattern for pre-aggregated distinct "
    "counts (store sketch bytes per partition/day, merge at query "
    "time; never re-shuffle raw ids). Sketch bytes are "
    "engine-specific, so the checked output is the exact count per "
    "level plus a 5%% tolerance boolean on each estimate (lgConfigK=14 "
    "-> ~0.8%% expected error). The estimate path re-aggregates the "
    "SKETCHES, not the rows: the union level touches one row per "
    "event_type.",
)
def hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.cache import persist

    events = load_table(spark, sf_dir, "events")
    # sketches feeds BOTH the per_type branch and the global union row;
    # eager persist so the events scan + HLL aggregation runs once per
    # action instead of twice. Side effects (fn() launches a job; the
    # cache is held until release_cache()) are part of the registry
    # contract — see plans.__init__ docstring.
    sketches = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    sketches = persist(sketches, eager=True)

    def within(sk_col: str) -> "F.Column":
        # exact_users = 0 (a group whose user_ids are all NULL) would
        # make the relative-error division NULL while the oracle emits
        # TRUE — treat an empty group as trivially within tolerance.
        return F.when(F.col("exact_users") <= 0, F.lit(True)).otherwise(
            F.abs(F.hll_sketch_estimate(sk_col) - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05)
        )

    per_type = sketches.select(
        "event_type", "exact_users", within("sk").alias("union_within_5pct")
    )
    global_exact = events.select(
        F.countDistinct("user_id").alias("exact_users")
    )
    global_row = (
        sketches.agg(F.hll_union_agg("sk").alias("sk_all"))
        .crossJoin(global_exact)
        .select(
            F.lit("<all>").alias("event_type"),
            "exact_users",
            within("sk_all").alias("union_within_5pct"),
        )
    )
    return per_type.unionByName(global_row)
