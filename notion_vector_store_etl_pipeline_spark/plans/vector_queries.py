"""Vector similarity queries (SURVEY.md §2.11 north star): brute-force
cosine top-k, threshold self-join, and an IVF-bucketed ANN variant (the
100 TB scale path: candidate generation via centroid buckets instead of
the full cross product).

Determinism: all math in double, sequential accumulation, `round(_, 6)`
in both engines, ties broken by id.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from notion_vector_store_etl_pipeline_spark.functions import vectors as V
from notion_vector_store_etl_pipeline_spark.operators.cache import persist
from notion_vector_store_etl_pipeline_spark.plans import register
from notion_vector_store_etl_pipeline_spark.sources import load_table

_COS_SQL = (
    "round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6)"
)


@register(
    "knn_topk",
    oracle=f"""
    SELECT query_id, cand_id, score, rn FROM (
      SELECT query_id, cand_id, score,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id)
                  AS INTEGER) AS rn
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {_COS_SQL} AS score
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      )
    ) WHERE rn <= 10
    """,
    doc="Brute-force cosine top-k per query vector (broadcast query side; "
    "per-partition partial top-k via ranking window).",
)
def knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_scores_vs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # the shared carve loader (predicate-pushed, id-sorted) — the same
    # query batch every gated ANN variant uses, so a change to the
    # carve/guard contract lands here too instead of silently diverging
    q_ids, q_mat = _query_batch(spark, sf_dir)
    scored = cosine_scores_vs(emb, q_ids, q_mat).filter(
        F.col("cand_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


@register(
    "similarity_selfjoin",
    oracle=f"""
    SELECT a_id, b_id, score FROM (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id, {_COS_SQL} AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    ) WHERE score >= 0.35
    """,
    doc="All-pairs cosine threshold self-join (near-dup by embedding). "
    "Quadratic by construction — the IVF/LSH variants are the scale path.",
)
def similarity_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_selfjoin_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_selfjoin_pairs(emb, threshold=0.35)


def _load_sorted_vectors(spark: SparkSession, sf_dir: str, predicate):
    """Shared bounded-carve loader: predicate-pushed distributed read of
    a small vector set (centroid carve, query batch) returned as
    id-sorted numpy. One copy of a pattern that had been duplicated at
    every carve site; the id sort gives deterministic iteration order
    driver-side (the similarity kernels additionally re-sort centroid
    inputs internally, so the sort here is about caller determinism,
    not kernel correctness)."""
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        load_vectors_numpy,
    )

    ids, mat = load_vectors_numpy(spark, sf_dir, predicate=predicate)
    order = np.argsort(ids)
    return ids[order], mat[order]


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    """Deterministic centroid sample (vec_id % 97 == 0) as numpy — the
    centroid table is a fixed, bounded design parameter (e.g. 2^16
    lists at 100 TB), stored as a small sidecar artifact of the index
    build and loaded driver-side for broadcasting into kernels. The
    sample is carved out DISTRIBUTED (predicate pushed into the scan)
    — collecting the full table and filtering on the driver trips the
    collect guard at scale, as it must (r8 sf10 finding)."""
    return _load_sorted_vectors(spark, sf_dir, F.col("vec_id") % 97 == 0)


def _query_batch(spark: SparkSession, sf_dir: str):
    """The 5-vector query workload (vec_id < 5) as numpy, driver-side —
    an ANN search's query batch is input data, not the indexed table.
    Selected distributed, same rationale as :func:`_ivf_centroids`.

    Callers that consume the batch TWICE in one registered query (the
    probe stage and the recall gate) load it once and pass it down via
    the ``qb=`` parameters — each fn() call otherwise pays the
    predicate-pushed scan + collect job twice per bench trial (and at
    scale, twice per query batch). The load stays inside fn(), so
    every bench trial still computes it from the parquet input."""
    return _load_sorted_vectors(spark, sf_dir, F.col("vec_id") < 5)


def _ivf_neighbors(spark: SparkSession, sf_dir: str, qb=None) -> DataFrame:
    """IVF-style ANN neighbors: assign vectors to their nearest centroid
    list (GEMM kernel, no per-row window), probe each query's 4 nearest
    lists, exact rerank inside the probed lists only. The query batch's
    probe lists are computed driver-side (bounded workload x bounded
    centroid table) and broadcast into the join — the indexed table
    streams through exactly one kernel pass and one narrow join."""
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        nearest_lists,
        nearest_lists_numpy,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    c_ids, c_mat = _ivf_centroids(spark, sf_dir)
    assigned = nearest_lists(vecs, c_ids, c_mat, 1, id_col="vec_id", emb_col="emb")
    q_ids, q_mat = qb if qb is not None else _query_batch(spark, sf_dir)
    probe_lists = nearest_lists_numpy(q_mat, c_ids, c_mat, 4)
    probes = spark.createDataFrame(
        [
            (int(q_ids[i]), [float(x) for x in q_mat[i]], int(lid))
            for i in range(len(q_ids))
            for lid in probe_lists[i]
        ],
        "query_id long, q_emb array<double>, list_id long",
    )
    cands = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(V.cosine(F.col("q_emb"), F.col("emb")), 6).alias("score"),
    ).dropDuplicates(["query_id", "cand_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


@register(
    "knn_ivf_approx",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc="IVF-style ANN: deterministic centroid set (vec_id % 97 == 0), "
    "assign vectors to nearest centroid, probe the query's 4 nearest "
    "lists, exact rerank inside. Candidate set is bucket-local — at "
    "100 TB the inverted lists are the partition key. The checked output "
    "is a per-query recall gate (recall@10 vs the exact brute-force "
    "top-10 >= 0.3, the same floor tests/test_ann_recall.py enforces); "
    "the oracle asserts TRUE — an approximate index returning arbitrary "
    "rows now FAILS the driver check instead of being rows-only.",
)
def knn_ivf_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    qb = _query_batch(spark, sf_dir)
    approx = _ivf_neighbors(spark, sf_dir, qb=qb).select("query_id", "cand_id")
    return _recall_gate(spark, sf_dir, approx, qb=qb)


def _recall_gate(
    spark: SparkSession, sf_dir: str, approx: DataFrame, floor: float = 0.3, qb=None
) -> DataFrame:
    """Per-query recall@10 gate for approximate indexes: recall of
    ``approx`` (query_id, cand_id) against the exact brute-force top-10
    must clear ``floor``. Keeps approximate queries driver-checkable —
    the oracle asserts literal TRUE per query. ``qb``: the caller's
    already-loaded query batch (see :func:`_query_batch`)."""
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_scores_vs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q_ids, q_mat = qb if qb is not None else _query_batch(spark, sf_dir)
    exact_scored = cosine_scores_vs(emb, q_ids, q_mat).filter(
        F.col("cand_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id").asc())
    exact10 = (
        exact_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "cand_id")
    )
    hits = exact10.join(approx, ["query_id", "cand_id"], "left_semi")
    return (
        exact10.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n_exact"))
        .join(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n_hit")), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("_n_hit"), F.lit(0)) / F.col("_n_exact") >= F.lit(floor)).alias(
                "recall_ok"
            ),
        )
    )


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
    FROM embeddings
    """,
    doc="Per-vector L2 norm via array HOFs — narrow, zero-shuffle scoring.",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.round(V.norm(V.as_double("embedding")), 6).alias("l2_norm")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         m AS (SELECT vec_id, label, e,
                      greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max'), 1e-12) AS ma
               FROM b)
    SELECT vec_id, label,
           round(127.0 / ma, 6) AS scale,
           array_to_string(list_transform(e, x -> CAST(round(x * (127.0 / ma)) AS INTEGER)), ',') AS q_csv
    FROM m
    """,
    doc="Symmetric int8 quantization per vector (scale = 127/max|x|): the "
    "4x memory compression an ANN index applies before bucketing at scale. "
    "Pure array HOFs — narrow, zero-shuffle, stays in codegen; the max "
    "element maps to exactly +/-127 so the round boundary is never hit there. "
    "The int8 code array is emitted as a canonical csv string (array_join) "
    "so the driver's value hasher — which cannot hash python lists — can "
    "check it; consumers wanting the array use knn_ivf_quantized's internal "
    "quant projection.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = V.as_double("embedding")
    # the scale aggregate is PROJECTED to its own column before the
    # quantize lambda: an aggregate expression referenced INSIDE a
    # transform re-evaluates once per element (codegen CSE stops at
    # lambda boundaries) — O(dim^2) per row, the HOF pathology
    # PLANS.md documents. As an attribute it's computed once per row
    # (and CollapseProject won't inline a non-cheap expression that
    # has two references).
    maxabs = F.greatest(
        F.array_max(F.transform(F.col("e"), lambda x: F.abs(x))), F.lit(1e-12)
    )
    staged = emb.select("vec_id", "label", e.alias("e")).withColumn(
        "scale", F.lit(127.0) / maxabs
    )
    q = F.transform(F.col("e"), lambda x: F.round(x * F.col("scale")).cast("int"))
    return staged.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_csv"),
    )


@register(
    "knn_ivf_quantized",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc="Two-stage ANN, the full 100 TB retrieval shape: IVF probe "
    "(nearest 4 inverted lists) -> int8-quantized cosine over the "
    "candidates (4x smaller vectors, integer dot products — the cheap "
    "first pass) -> exact double-precision rerank of the quantized "
    "top-30 -> top-10. Candidate generation, coarse scoring, and "
    "rerank are all candidate-local; the full-precision vectors are "
    "only touched for 30 rows per query. Checked output is the same "
    "per-query recall@10 >= 0.3 gate as knn_ivf_approx (exact-score "
    "rerank is separately pinned by tests/test_ann_recall.py).",
)
def knn_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    qb = _query_batch(spark, sf_dir)
    approx = _ivf_quantized_neighbors(spark, sf_dir, qb=qb).select(
        "query_id", "cand_id"
    )
    return _recall_gate(spark, sf_dir, approx, qb=qb)


def _ivf_quantized_probe(
    spark: SparkSession,
    sf_dir: str,
    index: DataFrame,
    c_ids: np.ndarray,
    c_mat: np.ndarray,
    prune_lists: bool = False,
    qb=None,
) -> DataFrame:
    """The per-query probe stage shared by the fresh and stored index
    paths: quantize + probe the (bounded, driver-side) query batch with
    the same kernels the index build used, broadcast the probes — the
    indexed table never shuffles, candidates flow through one narrow
    broadcast join. ``prune_lists=True`` additionally filters the index
    to the probed list_ids BEFORE the join: on a STORED index
    partitioned by list_id that filter is partition pruning — a
    4-lists-per-query probe reads ~4/N_lists of the index, the IVF
    contract at 100 TB. (On a freshly computed index the filter cannot
    prune the scan — assignment is computed by the same pass — so the
    fresh path skips it.)"""
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        ivf_coarse_rerank,
        nearest_lists_numpy,
        quantize_codes,
    )

    q_ids, q_mat = qb if qb is not None else _query_batch(spark, sf_dir)
    q_codes, q_norms = quantize_codes(q_mat)
    probe_lists = nearest_lists_numpy(q_mat, c_ids, c_mat, 4)
    probes = spark.createDataFrame(
        [
            (
                int(q_ids[i]),
                [float(x) for x in q_mat[i]],
                [int(x) for x in q_codes[i]],
                float(q_norms[i]),
                int(lid),
            )
            for i in range(len(q_ids))
            for lid in probe_lists[i]
        ],
        "query_id long, q_emb array<double>, q_quant array<long>, q_qn double, list_id long",
    )
    if prune_lists:
        needed = sorted({int(lid) for row in probe_lists for lid in row})
        index = index.filter(F.col("list_id").isin(needed))
    cands = index.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # stage 1 (int8 integer dot over all candidates) + stage 2 (exact
    # rerank of the quantized top-30) run batch-local per query group
    return ivf_coarse_rerank(cands, shortlist=30, topk=10)


def _ivf_quantized_neighbors(spark: SparkSession, sf_dir: str, qb=None) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        quantize_and_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    c_ids, c_mat = _ivf_centroids(spark, sf_dir)

    # index build, ONE Arrow pass over the table: int8 codes + quantized
    # norm computed once per vector, plus the home-list assignment. This
    # replaced the interpreted HOF cosine + per-row windows that made
    # this the bench's hottest query (BENCH_r01: 7.67s).
    index = quantize_and_assign(vecs, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb")
    return _ivf_quantized_probe(spark, sf_dir, index, c_ids, c_mat, qb=qb)


def _ivf_stored_neighbors(spark: SparkSession, sf_dir: str, qb=None) -> DataFrame:
    """The stored-index twin: build/write the IVF index at most once
    per (fixture fingerprint, construction version), then probe the
    STORED artifact — per-query cost is the probe alone (pruned
    list scan + broadcast join + rerank), zero index-build work."""
    from notion_vector_store_etl_pipeline_spark.operators.index_memo import (
        memoized_index,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        load_ivf_index,
        quantize_and_assign,
        write_ivf_index,
    )

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
        c_ids, c_mat = _ivf_centroids(spark, sf_dir)
        write_ivf_index(
            spark,
            quantize_and_assign(vecs, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"),
            c_ids,
            c_mat,
            tmp,
        )

    path = memoized_index(f"{sf_dir}/embeddings.parquet", "ivf", "v1", _build)
    index, c_ids, c_mat = load_ivf_index(spark, path)
    return _ivf_quantized_probe(
        spark, sf_dir, index, c_ids, c_mat, prune_lists=True, qb=qb
    )


@register(
    "knn_ivf_stored_index",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc="knn_ivf_quantized run the way production runs it: against a "
    "STORED IVF index (quantize_and_assign -> write_ivf_index once per "
    "corpus version; load + probe per query batch) instead of "
    "rebuilding codes+norms+assignment per run — the IVF twin of "
    "minhash_probe_stored_index (VERDICT r8 missing #3). The stored "
    "layout partitions vectors by list_id, so the probe's list filter "
    "is PARTITION PRUNING: a 4-lists-per-query probe reads ~4/N of the "
    "index. Result-identical to knn_ivf_quantized by construction "
    "(same kernels, same centroid sidecar; pinned in tests/"
    "test_ann_recall.py::test_ivf_stored_index_matches_fresh); checked "
    "output is the same per-query recall@10 >= 0.3 gate.",
)
def knn_ivf_stored_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    qb = _query_batch(spark, sf_dir)
    approx = _ivf_stored_neighbors(spark, sf_dir, qb=qb).select("query_id", "cand_id")
    return _recall_gate(spark, sf_dir, approx, qb=qb)


def _ivf_incremental_neighbors(spark: SparkSession, sf_dir: str, qb=None) -> DataFrame:
    """The per-ingest ANN shape: a memoized BASE index holds the
    corpus-resident 90% of vectors (vec_id % 10 != 3); each run assigns
    the newly-arrived 10% against the base's OWN centroid sidecar (one
    Arrow kernel pass over the new vectors only — the base is never
    recomputed) and probes base ∪ delta, the list filter pruning
    partitions on the stored side. The vectors-side composition of
    minhash_probe_stored_index + minhash_incremental_probe. Assignment
    is per-vector and centroid-relative, so base(90%) ∪ delta(10%)
    IS the full assignment — result-identical to knn_ivf_quantized
    (pinned in tests/test_ann_recall.py)."""
    from notion_vector_store_etl_pipeline_spark.operators.index_memo import (
        memoized_index,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        load_ivf_index,
        quantize_and_assign,
        write_ivf_index,
    )

    new_pred = (F.col("vec_id") % 10) == 3

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", V.as_double("embedding").alias("emb")).filter(
            ~new_pred
        )
        # the centroid sample is a design parameter of the corpus
        # VERSION (full-table deterministic sample), shared by base and
        # all deltas via the sidecar
        c_ids, c_mat = _ivf_centroids(spark, sf_dir)
        write_ivf_index(
            spark,
            quantize_and_assign(
                vecs, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"
            ),
            c_ids,
            c_mat,
            tmp,
        )

    path = memoized_index(f"{sf_dir}/embeddings.parquet", "ivfb90", "v1", _build)
    index, c_ids, c_mat = load_ivf_index(spark, path)
    emb = load_table(spark, sf_dir, "embeddings")
    arrived = emb.select("vec_id", V.as_double("embedding").alias("emb")).filter(
        new_pred
    )
    # the per-ingest kernel: assign ONLY the new vectors (the on-disk
    # twin of this step is operators.similarity.append_ivf_delta;
    # the registered query keeps the delta in-plan so each bench trial
    # measures assign+probe, the honest per-ingest cost)
    delta = quantize_and_assign(
        arrived, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"
    )
    return _ivf_quantized_probe(
        spark, sf_dir, index.unionByName(delta), c_ids, c_mat, prune_lists=True, qb=qb
    )


@register(
    "knn_ivf_incremental",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc="Incremental-ingest ANN: probe a stored IVF base index (90% of "
    "vectors, memoized once per corpus version) unioned with a per-run "
    "DELTA assignment of the newly-arrived 10% against the base's own "
    "centroid sidecar — the vectors-side twin of the LSH index_delta "
    "path (append_ivf_delta / compact_ivf_index are the on-disk "
    "operators; streaming/dedup_stream.py is the same lifecycle on the "
    "text side). Per-ingest work is one Arrow kernel pass over the new "
    "vectors plus the pruned probe; the base is never recomputed. "
    "Union-of-assignments == assignment-of-union exactly (per-vector, "
    "centroid-relative), so this is result-identical to "
    "knn_ivf_quantized; checked output is the same per-query "
    "recall@10 >= 0.3 gate.",
)
def knn_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    qb = _query_batch(spark, sf_dir)
    approx = _ivf_incremental_neighbors(spark, sf_dir, qb=qb).select(
        "query_id", "cand_id"
    )
    return _recall_gate(spark, sf_dir, approx, qb=qb)


def _ivf_rebuilt_neighbors(spark: SparkSession, sf_dir: str, qb=None) -> DataFrame:
    """The drift-correction endgame of the IVF lifecycle: a base index
    over the resident half whose sidecar was sampled from THAT half
    only (stale — the arrivals had no say), a delta of the arriving
    half assigned against the stale sidecar (exactly what
    ``append_ivf_delta`` produces under drift), then
    ``rebuild_ivf_index``: resample centroids from the UNION and
    reassign every vector — the periodic refresh that stops a shifted
    ingest distribution from crowding into the old centroids' lists
    (recall decay recorded in SCALE_SMOKE_R10.md §1; rebuilt ≡
    fresh-on-union pinned in tests/test_ann_recall.py). The whole
    chain (base, delta, rebuild) is memoized as one stored artifact —
    per-run cost is the pruned probe of the REBUILT index alone, the
    same economics as knn_ivf_stored_index."""
    from notion_vector_store_etl_pipeline_spark.operators.index_memo import (
        memoized_index,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        append_ivf_delta,
        load_ivf_index,
        quantize_and_assign,
        rebuild_ivf_index,
        refresh_centroids,
        write_ivf_index,
    )

    arriving = (F.col("vec_id") % 2) == 1

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
        resident = vecs.filter(~arriving)
        stale_ids, stale_mat = refresh_centroids(resident)
        base, delta = f"{tmp}/base", f"{tmp}/delta"
        write_ivf_index(
            spark,
            quantize_and_assign(
                resident, stale_ids, stale_mat, topn=1, id_col="vec_id", emb_col="emb"
            ),
            stale_ids,
            stale_mat,
            base,
        )
        append_ivf_delta(spark, vecs.filter(arriving), base, delta)
        rebuild_ivf_index(spark, base, [delta], f"{tmp}/rebuilt")

    path = memoized_index(f"{sf_dir}/embeddings.parquet", "ivfrb", "v1", _build)
    index, c_ids, c_mat = load_ivf_index(spark, f"{path}/rebuilt")
    return _ivf_quantized_probe(
        spark, sf_dir, index, c_ids, c_mat, prune_lists=True, qb=qb
    )


@register(
    "knn_ivf_rebuilt",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc="Centroid-refresh rebuild of a drifted IVF index (VERDICT r9 "
    "missing #2): base(resident 50%, sidecar sampled from residents "
    "only — stale under drift) + delta(arriving 50%, assigned against "
    "the stale sidecar) -> rebuild_ivf_index resamples centroids from "
    "the union and reassigns everything in one Arrow pass; the probe "
    "then runs against the REBUILT, list_id-partitioned version "
    "(partition-pruned scan). Rebuilt ≡ fresh-build-on-union exactly "
    "(tests/test_ann_recall.py::test_ivf_rebuild_equals_fresh_on_union); "
    "streaming twin: rebuild_every in streaming_vector_ingest. Checked "
    "output is the same per-query recall@10 >= 0.3 gate as the other "
    "IVF entries.",
)
def knn_ivf_rebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    qb = _query_batch(spark, sf_dir)
    approx = _ivf_rebuilt_neighbors(spark, sf_dir, qb=qb).select("query_id", "cand_id")
    return _recall_gate(spark, sf_dir, approx, qb=qb)


@register(
    "neardup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
      WHERE {_COS_SQL} >= 0.35
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    walk(node, lab) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS vec_id, CAST(min(lab) AS BIGINT) AS component_id FROM walk GROUP BY node
    """,
    doc="Near-dup CLUSTERS: connected components over the cosine-threshold "
    "pair graph via iterative min-label propagation (keep-one-per-component "
    "is then a trivial filter component_id == vec_id). The oracle replays "
    "reachability as a recursive CTE. This is the piece that turns pairwise "
    "dedup into transitive-closure dedup — A~B and B~C collapse to one "
    "cluster even when A!~C.",
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_selfjoin_pairs,
    )
    from notion_vector_store_etl_pipeline_spark.operators.traversal import (
        connected_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_selfjoin_pairs(emb, threshold=0.35).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    return connected_components(pairs, nodes).select(
        F.col("node").alias("vec_id"), "component_id"
    )


@register(
    "neardup_cluster_survivors",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
      WHERE {_COS_SQL} >= 0.35
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id, a_id FROM pairs
    ),
    walk(node, lab) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (
      SELECT node AS vec_id, min(lab) AS component_id FROM walk GROUP BY node
    )
    SELECT component_id AS survivor_id,
           count(*) AS cluster_size,
           CAST(count(*) - 1 AS BIGINT) AS n_removed
    FROM comp GROUP BY component_id
    """,
    doc="The dedup DECISION from the clusters: one survivor per "
    "connected component (lowest id), with cluster size and removed "
    "count — the final output a 100 TB dedup job writes (survivor "
    "keep-list + removal ledger).",
)
def neardup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = neardup_components(spark, sf_dir)
    return comp.groupBy(F.col("component_id").alias("survivor_id")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_removed"),
    )


@register(
    "neardup_chain_sequential_cosine",
    oracle=f"""
    WITH RECURSIVE pairs_m AS MATERIALIZED (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id, {_COS_SQL} AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
      WHERE {_COS_SQL} >= 0.35
    ), ord AS MATERIALIZED (
      SELECT id, row_number() OVER (ORDER BY id) AS rn
      FROM (SELECT a_id AS id FROM pairs_m UNION SELECT b_id FROM pairs_m)
    ), walk(rn, survivors) AS (
      SELECT 0, CAST([] AS BIGINT[])
      UNION ALL
      SELECT w.rn + 1,
             CASE WHEN EXISTS (
                 SELECT 1 FROM pairs_m p
                 WHERE p.b_id = (SELECT id FROM ord WHERE rn = w.rn + 1)
                   AND list_contains(w.survivors, p.a_id))
               THEN w.survivors
               ELSE list_append(w.survivors, (SELECT id FROM ord WHERE rn = w.rn + 1))
             END
      FROM walk w WHERE w.rn < (SELECT count(*) FROM ord)
    ), final AS (
      SELECT survivors FROM walk ORDER BY rn DESC LIMIT 1
    )
    SELECT p.a_id, p.b_id, p.score
    FROM pairs_m p, final f
    WHERE list_contains(f.survivors, p.a_id)
    """,
    doc="Greedy first-wins chain disposition over the verified COSINE "
    "near-dup pairs — the embedding-wing registration of the shared "
    "chain_policy='sequential' contract (VERDICT r12 #6), completing "
    "the text/vector symmetry: dedup_chain_sequential resolves MinHash "
    "pair chains; this resolves exact-cosine pair chains with the SAME "
    "operators.dedup.sequential_firstwins_pairs peel, so the embedding "
    "ingest-dedup stream (streaming.ann_stream.probe_vector_batch) and "
    "this one-pass batch twin produce the identical flagged/clean "
    "disposition wherever pagination splits a chain "
    "(tests/test_chain_policy_embedding.py). The sf0.01 fixtures "
    "contain real cosine chains at 0.35 (271 conservative vs 205 "
    "sequential pairs), so this check discriminates the policies. "
    "Oracle: the exact pair CTE + the linear recursive survivor walk "
    "in id order, same as the text twin.",
)
def neardup_chain_sequential_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.dedup import (
        sequential_firstwins_pairs,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_selfjoin_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    pairs = cosine_selfjoin_pairs(vecs, 0.35, id_col="vec_id", emb_col="emb")
    return sequential_firstwins_pairs(pairs)


_SEMDEDUP_THR = 0.35


@register(
    "semdedup_cluster_prune",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % 97 = 0),
    asg AS (
      SELECT vec_id, cid AS cluster_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cemb)
                         / (sqrt(list_dot_product(e.emb, e.emb))
                            * sqrt(list_dot_product(c.cemb, c.cemb))), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id AS dropped_id
      FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.emb, eb.emb)
              / (sqrt(list_dot_product(ea.emb, ea.emb))
                 * sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= {_SEMDEDUP_THR}
    )
    SELECT a.vec_id, a.cluster_id,
           a.vec_id NOT IN (SELECT dropped_id FROM dropped) AS kept
    FROM asg a
    """,
    doc="SemDeDup (Abbas et al. 2023, public): semantic dedup at scale = "
    "cluster first, dedup within clusters only. Nearest-centroid "
    "assignment runs as one GEMM pass against the broadcast centroid "
    "table (no shuffle of the big side), then each cluster prunes "
    "independently — a vector is dropped when a lower-id vector in the "
    "SAME cluster has cosine >= threshold. The pairwise work is "
    f"cluster-local (~(n/k)^2 per cluster, embarrassingly parallel "
    "across clusters) instead of the n^2 global self-join; at 100 TB "
    "k grows with n so cluster size stays bounded (shard oversized "
    "clusters by a secondary hash if the cap is exceeded).",
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        semdedup_prune,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    c_ids, c_mat = _ivf_centroids(spark, sf_dir)
    return semdedup_prune(vecs, c_ids, c_mat, _SEMDEDUP_THR)


_IVF_BLOCK_PROBES = 2

# cosine over the unpacked-double CTE aliases (ea/eb), same round-6
# convention as _COS_SQL
_COS_AB_SQL = (
    "round(list_dot_product(ea.emb, eb.emb)"
    " / (sqrt(list_dot_product(ea.emb, ea.emb))"
    " * sqrt(list_dot_product(eb.emb, eb.emb))), 6)"
)

# shared oracle prelude: centroid carve-out -> multi-probe assignment ->
# within-list candidates -> exact verified pairs (the SQL replay of
# operators.similarity.ivf_blocked_pairs)
_IVF_BLOCKED_PAIRS_CTE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % 97 = 0),
    asg AS (
      SELECT vec_id, cid AS list_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cemb)
                         / (sqrt(list_dot_product(e.emb, e.emb))
                            * sqrt(list_dot_product(c.cemb, c.cemb))), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn <= {_IVF_BLOCK_PROBES}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
    ),
    vpairs AS (
      SELECT p.a_id, p.b_id, {_COS_AB_SQL} AS score
      FROM cand p
      JOIN e ea ON ea.vec_id = p.a_id
      JOIN e eb ON eb.vec_id = p.b_id
      WHERE {_COS_AB_SQL} >= {_SEMDEDUP_THR}
    )
"""


@register(
    "neardup_pairs_ivf_blocked",
    oracle=_IVF_BLOCKED_PAIRS_CTE
    + """
    SELECT a_id, b_id, score FROM vpairs
    """,
    doc="Sub-quadratic replacement for the exact all-pairs stage of "
    "`neardup_components` (VERDICT r9 next-round #7): IVF-blocked "
    "candidate generation (multi-probe nearest-centroid assignment, "
    f"probes={_IVF_BLOCK_PROBES}, same % 97 centroid carve-out as the "
    "IVF/semdedup family) + exact list-local verify, deduped across "
    "lists. Sign-LSH banding is deliberately NOT used here: at this "
    "corpus's 0.35 threshold the per-bit collision contrast (0.62 true "
    "vs 0.50 random) is too weak to be sub-quadratic at useful recall "
    "— centroid blocking keys on the data's own cluster structure "
    "instead. Work is sum_l m_l^2 (bounded per-list tasks; L grows "
    "with the corpus) vs the baseline's n^2/2; recall vs exact is "
    "measured, not asserted (SCALE_SMOKE_R10.md).",
)
def neardup_pairs_ivf_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        ivf_blocked_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    c_ids, c_mat = _ivf_centroids(spark, sf_dir)
    return ivf_blocked_pairs(
        vecs, c_ids, c_mat, _SEMDEDUP_THR, probes=_IVF_BLOCK_PROBES
    )


@register(
    "neardup_pairs_ivf_stored",
    oracle=_IVF_BLOCKED_PAIRS_CTE
    + """
    SELECT a_id, b_id, score FROM vpairs
    """,
    doc="The corpus-wide blocked near-dup sweep run the way production "
    "runs it: against a STORED IVF index of the FULL population "
    f"(quantize_and_assign topn={_IVF_BLOCK_PROBES} -> write_ivf_index "
    "once per corpus version, memoized). Value-identical to "
    "`neardup_pairs_ivf_blocked` by construction (same oracle; "
    "Spark-side equivalence pinned in tests/test_ann_recall.py::"
    "test_pairs_stored_matches_fresh). What it adds is the cost shape "
    "the fresh plan cannot have: fresh evaluates the assignment TWICE "
    "(the block-count aggregate and the pair branch are separate "
    "consumers of one lazy plan), i.e. two corpus-wide GEMM passes per "
    "sweep; here the count branch scans only the list_id PARTITION "
    "column of the stored tree (zero data bytes) and assignment cost "
    "is paid once per corpus version, amortized across every sweep, "
    "probe, and ANN query that shares the index.",
)
def neardup_pairs_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.index_memo import (
        memoized_index,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        blocked_pairs_from_assigned,
        load_ivf_index,
        quantize_and_assign,
        write_ivf_index,
    )

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
        c_ids, c_mat = _ivf_centroids(spark, sf_dir)
        write_ivf_index(
            spark,
            quantize_and_assign(
                vecs,
                c_ids,
                c_mat,
                topn=_IVF_BLOCK_PROBES,
                id_col="vec_id",
                emb_col="emb",
            ),
            c_ids,
            c_mat,
            tmp,
        )

    path = memoized_index(f"{sf_dir}/embeddings.parquet", "ivfpairs", "v1", _build)
    vectors, _, _ = load_ivf_index(spark, path)
    return blocked_pairs_from_assigned(
        vectors.select("vec_id", "emb", "list_id"), _SEMDEDUP_THR, "vec_id", "emb"
    )


@register(
    "neardup_components_ivf_blocked",
    oracle=_IVF_BLOCKED_PAIRS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM vpairs
      UNION ALL
      SELECT b_id, a_id FROM vpairs
    ),
    walk(node, lab) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS vec_id, CAST(min(lab) AS BIGINT) AS component_id FROM walk GROUP BY node
    """,
    doc="The blocked near-dup CLUSTERS: connected components over the "
    "IVF-blocked verified pair graph — the sub-quadratic twin of "
    "`neardup_components`, registered beside the exact baseline so the "
    "approximation is a visible, measured choice (pair recall and "
    "component agreement vs exact quantified at sf1/sf10 in "
    "SCALE_SMOKE_R10.md). Downstream is identical: iterative min-label "
    "propagation, survivor = lowest id per component.",
)
def neardup_components_ivf_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.traversal import (
        connected_components,
    )

    pairs = neardup_pairs_ivf_blocked(spark, sf_dir).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("node"))
    return connected_components(pairs, nodes).select(
        F.col("node").alias("vec_id"), "component_id"
    )


# shared by the fresh and stored probe registrations — the stored
# index IS the same assignment materialized once, so one oracle serves
# both (same pattern as _MH_PROBE_ORACLE on the text side)
_IVF_PROBE_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (
      SELECT vec_id AS cid, emb AS cemb FROM e
      WHERE vec_id % 97 = 0 AND vec_id % 10 <> 0
    ),
    asg AS (
      SELECT vec_id, cid AS list_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cemb)
                         / (sqrt(list_dot_product(e.emb, e.emb))
                            * sqrt(list_dot_product(c.cemb, c.cemb))), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn <= {_IVF_BLOCK_PROBES}
    ),
    cand AS (
      SELECT DISTINCT b.vec_id AS batch_id, a.vec_id AS corpus_id
      FROM asg a JOIN asg b ON a.list_id = b.list_id
      WHERE a.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
    )
    SELECT c.batch_id, c.corpus_id,
           round(list_dot_product(ea.emb, eb.emb)
             / (sqrt(list_dot_product(ea.emb, ea.emb))
                * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS score
    FROM cand c
    JOIN e ea ON ea.vec_id = c.batch_id
    JOIN e eb ON eb.vec_id = c.corpus_id
    WHERE round(list_dot_product(ea.emb, eb.emb)
            / (sqrt(list_dot_product(ea.emb, ea.emb))
               * sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= {_SEMDEDUP_THR}
    """


@register(
    "neardup_probe_ivf_blocked",
    oracle=_IVF_PROBE_ORACLE,
    doc="INCREMENTAL vector near-dup probe — the vector-side twin of "
    "`minhash_incremental_probe`: a batch of arriving vectors "
    "(vec_id % 10 = 0, ~10% of the corpus, standing in for today's "
    "ingest) probes the standing corpus through shared IVF lists "
    f"(probes={_IVF_BLOCK_PROBES}, sidecar carved from the CORPUS side "
    "only — index-build-time state, so results never depend on the "
    "batch). Work is bipartite (batch x list-local corpus), linear in "
    "batch size for a fixed list layout — the per-ingest economics of "
    "the whole dedup wing, now symmetric across text (MinHash LSH) "
    "and vectors (IVF). Exact cosine verify, multi-list co-residence "
    "deduped; intra-batch pairs out of scope by the same charter as "
    "the text probe.",
)
def neardup_probe_ivf_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        ivf_blocked_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    c_ids, c_mat = _load_sorted_vectors(
        spark,
        sf_dir,
        (F.col("vec_id") % 97 == 0) & (F.col("vec_id") % 10 != 0),
    )
    return ivf_blocked_probe(
        vecs,
        F.col("vec_id") % 10 == 0,
        c_ids,
        c_mat,
        _SEMDEDUP_THR,
        probes=_IVF_BLOCK_PROBES,
    )


@register(
    "neardup_probe_ivf_stored",
    oracle=_IVF_PROBE_ORACLE,
    doc="The incremental vector probe run the way production runs it: "
    "against a STORED IVF index of the corpus (quantize_and_assign "
    f"topn={_IVF_BLOCK_PROBES} -> write_ivf_index once per corpus "
    "version, memoized; per ingest only the BATCH is assigned, against "
    "the index's own sidecar). Value-identical to "
    "`neardup_probe_ivf_blocked` BY CONSTRUCTION (same oracle SQL; "
    "Spark-side equivalence pinned in tests/test_ann_recall.py::"
    "test_probe_stored_matches_fresh) — what this registration adds is "
    "the cost shape: corpus-side assignment is never recomputed per "
    "ingest, the stored side is list_id-partitioned so the pre-join "
    "semi filter on the batch's probed lists is partition pruning, and "
    "bench trials after the first measure the true per-ingest cost "
    "(batch assignment + bipartite list-local verify) — the number "
    "that matters at 100 TB where the corpus is 1000x the daily batch. "
    "The vector-side completion of minhash_probe_stored_index.",
)
def neardup_probe_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.operators.index_memo import (
        memoized_index,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        _bipartite_list_probe,
        load_ivf_index,
        nearest_lists,
        quantize_and_assign,
        write_ivf_index,
    )

    batch_pred = F.col("vec_id") % 10 == 0

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.select("vec_id", V.as_double("embedding").alias("emb")).filter(
            ~batch_pred
        )
        c_ids, c_mat = _load_sorted_vectors(
            spark,
            sf_dir,
            (F.col("vec_id") % 97 == 0) & (F.col("vec_id") % 10 != 0),
        )
        # topn=_IVF_BLOCK_PROBES: each corpus vector is REPLICATED into
        # its top-P lists (standard multi-assignment), so the stored
        # probe's collision semantics match the fresh probe's exactly
        write_ivf_index(
            spark,
            quantize_and_assign(
                corpus,
                c_ids,
                c_mat,
                topn=_IVF_BLOCK_PROBES,
                id_col="vec_id",
                emb_col="emb",
            ),
            c_ids,
            c_mat,
            tmp,
        )

    path = memoized_index(f"{sf_dir}/embeddings.parquet", "ivfprobe", "v1", _build)
    vectors, c_ids, c_mat = load_ivf_index(spark, path)

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.select("vec_id", V.as_double("embedding").alias("emb")).filter(
        batch_pred
    )
    # Assign the batch ONCE and pin it: the assignment feeds four
    # consumers of one action (the probed-lists semi filter, the union's
    # batch branch, the kernel's block-count join, and the stored scan's
    # dynamic-pruning subqueries) — unpersisted, Spark re-runs the
    # Arrow assignment pass per branch (~6x over the day's ingest in
    # the formatted plan). The frame is micro-batch-sized (probes x
    # batch rows), the same persist contract the streaming
    # probe_vector_batch uses; eager so concurrent branches can't race
    # the cache populate.
    batch_asg = persist(
        nearest_lists(
            batch, c_ids, c_mat, _IVF_BLOCK_PROBES, id_col="vec_id", emb_col="emb"
        ).select("vec_id", "emb", F.lit(True).alias("_is_batch"), "list_id"),
        eager=True,
    )

    # only lists the batch actually probes are read from the stored
    # side (list_id is the partition column -> pruned scan at scale)
    probed = batch_asg.select("list_id").distinct()
    corpus_side = (
        vectors.join(F.broadcast(probed), "list_id", "left_semi")
        .select("vec_id", "emb", F.lit(False).alias("_is_batch"), "list_id")
    )
    return _bipartite_list_probe(
        corpus_side.unionByName(batch_asg), _SEMDEDUP_THR, "vec_id", "emb"
    )


@register(
    "neardup_probe_chain_cosine",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % 97 = 0
    ),
    asg AS (
      SELECT vec_id, cid AS list_id, rn FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cemb)
                         / (sqrt(list_dot_product(e.emb, e.emb))
                            * sqrt(list_dot_product(c.cemb, c.cemb))), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn <= {_IVF_BLOCK_PROBES}
    ),
    -- corpus side carries its single stored (top-1) assignment; the
    -- probing batch multi-probes — the engine's probe_vector_batch
    -- assigns a bare corpus top-1 and the batch `probes` deep
    cand AS (
      SELECT DISTINCT b.vec_id AS batch_id, a.vec_id AS corpus_id
      FROM asg a JOIN asg b ON a.list_id = b.list_id
      WHERE a.vec_id % 10 <> 0 AND a.rn = 1 AND b.vec_id % 10 = 0
    ),
    corpus_flags AS (
      SELECT c.batch_id, c.corpus_id,
             round(list_dot_product(ea.emb, eb.emb)
               / (sqrt(list_dot_product(ea.emb, ea.emb))
                  * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS score
      FROM cand c
      JOIN e ea ON ea.vec_id = c.batch_id
      JOIN e eb ON eb.vec_id = c.corpus_id
      WHERE round(list_dot_product(ea.emb, eb.emb)
              / (sqrt(list_dot_product(ea.emb, ea.emb))
                 * sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= {_SEMDEDUP_THR}
    ),
    survivors0 AS (
      SELECT vec_id FROM e
      WHERE vec_id % 10 = 0
        AND vec_id NOT IN (SELECT batch_id FROM corpus_flags)
    ),
    -- intra-batch stage: EXACT all-pairs among the corpus survivors
    -- (the engine's intra stage is cosine_selfjoin_pairs, not
    -- list-limited), then the greedy first-wins walk in id order
    pairs_m AS MATERIALIZED (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_dot_product(ea.emb, eb.emb)
               / (sqrt(list_dot_product(ea.emb, ea.emb))
                  * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS score
      FROM survivors0 a JOIN survivors0 b ON a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.emb, eb.emb)
              / (sqrt(list_dot_product(ea.emb, ea.emb))
                 * sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= {_SEMDEDUP_THR}
    ),
    ord AS MATERIALIZED (
      SELECT id, row_number() OVER (ORDER BY id) AS rn
      FROM (SELECT a_id AS id FROM pairs_m UNION SELECT b_id FROM pairs_m)
    ),
    walk(rn, survivors) AS (
      SELECT 0, CAST([] AS BIGINT[])
      UNION ALL
      SELECT w.rn + 1,
             CASE WHEN EXISTS (
                 SELECT 1 FROM pairs_m p
                 WHERE p.b_id = (SELECT id FROM ord WHERE rn = w.rn + 1)
                   AND list_contains(w.survivors, p.a_id))
               THEN w.survivors
               ELSE list_append(w.survivors, (SELECT id FROM ord WHERE rn = w.rn + 1))
             END
      FROM walk w WHERE w.rn < (SELECT count(*) FROM ord)
    ),
    final AS (SELECT survivors FROM walk ORDER BY rn DESC LIMIT 1)
    SELECT batch_id, corpus_id, score FROM corpus_flags
    UNION ALL
    SELECT p.b_id AS batch_id, p.a_id AS corpus_id, p.score
    FROM pairs_m p, final f
    WHERE list_contains(f.survivors, p.a_id)
    """,
    doc="The round-13 ingest-dedup kernel (streaming.ann_stream"
    ".probe_vector_batch) registered as an oracle-checked one-pass "
    "query: a batch of arriving vectors (vec_id % 10 = 0) probes the "
    "standing corpus through shared IVF lists (corpus pre-assigned "
    "top-1, batch multi-probes — the stored-index economics), exact "
    "cosine verify flags batch-vs-corpus pairs, and the corpus "
    "survivors' intra-batch chains resolve under the SHARED "
    "chain_policy='sequential' (the same greedy first-wins walk the "
    "text wing registers). Output = the full flagged ledger the "
    "streaming dedup mode writes per batch: (batch_id, corpus_id, "
    "score), where intra pairs list the surviving lower id as "
    "corpus_id. The oracle replays assignment, collision, both verify "
    "stages, and the recursive survivor walk.",
)
def neardup_probe_chain_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
        probe_vector_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))
    batch = vecs.filter(F.col("vec_id") % 10 == 0)
    corpus = vecs.filter(F.col("vec_id") % 10 != 0)
    c_ids, c_mat = _ivf_centroids(spark, sf_dir)
    flagged, _clean = probe_vector_batch(
        batch,
        corpus,
        c_ids,
        c_mat,
        _SEMDEDUP_THR,
        probes=_IVF_BLOCK_PROBES,
    )
    return flagged


_LSH_BITS = 4
_LSH_BANDS = 8


def _lsh_planes(dim: int):
    """Deterministic random hyperplanes (MT19937 seed 42 — stable across
    runs and machines) for signed-random-projection LSH."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.standard_normal((_LSH_BITS * _LSH_BANDS, dim))


def _lsh_bucket_matrix(mat, planes):
    """(n, _LSH_BANDS) int64 band buckets for the row vectors of
    ``mat`` — THE bucket function, shared by the executor signature
    kernel and the driver's query-side probes. The two sides must stay
    bit-identical (bit width, weight order, sign convention): a drift
    means probes silently stop colliding with corpus signatures — a
    recall collapse the recall gate only catches at run time, not an
    error."""
    bits = (mat @ planes.T >= 0).astype(np.int64)  # (n, bands*bits)
    weights = (1 << np.arange(_LSH_BITS)).astype(np.int64)
    return (bits.reshape(len(mat), _LSH_BANDS, _LSH_BITS) @ weights).astype(np.int64)


@register(
    "knn_lsh_cosine",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
    doc="ANN via signed-random-projection LSH (Charikar STOC'02, "
    "public): each vector's sign pattern against shared random "
    f"hyperplanes forms {_LSH_BANDS} bands of {_LSH_BITS} bits; two "
    "vectors collide in a band with probability (1 - theta/pi)^bits, so "
    "banding turns 'high cosine' into 'same bucket somewhere'. "
    "Signatures are one GEMM pass (mapInPandas, planes broadcast); "
    "candidates come from a narrow join on (band, bucket) — never the "
    "all-pairs product — and only candidates get exact rerank. The "
    "checked output is the same recall@10 >= 0.3 gate as knn_ivf_approx.",
)
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", V.as_double("embedding").alias("emb"))

    q_ids, q_mat = _query_batch(spark, sf_dir)
    planes = _lsh_planes(q_mat.shape[1])
    bc = spark.sparkContext.broadcast(planes)

    def signatures(it):
        planes = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["emb"].map(lambda a: np.asarray(a, dtype=np.float64)))
            n = len(ids)
            buckets = _lsh_bucket_matrix(mat, planes)  # (n, bands)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, _LSH_BANDS),
                    "band": np.tile(np.arange(_LSH_BANDS, dtype=np.int32), n),
                    "bucket": buckets.ravel(),
                }
            )

    sig_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("band", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )
    sigs = vecs.mapInPandas(signatures, sig_schema)

    # query signatures, driver-side: same planes, same bucket function
    q_buckets = _lsh_bucket_matrix(q_mat, planes)
    q_probes = spark.createDataFrame(
        [
            (int(q_ids[i]), int(b), int(q_buckets[i, b]))
            for i in range(len(q_ids))
            for b in range(_LSH_BANDS)
        ],
        "query_id long, band int, bucket long",
    )
    cands = (
        sigs.join(F.broadcast(q_probes), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .dropDuplicates(["query_id", "cand_id"])
    )
    # reuse the already-loaded query batch in the gate (one carve scan
    # per run, not two — see _query_batch)
    return _recall_gate(spark, sf_dir, cands, qb=(q_ids, q_mat))
