"""The end-to-end pipeline: the reference's `run_etl` / `process_source`
lifecycle (SURVEY.md §3) as ONE declarative DataFrame pipeline.

Reference flow (`Notion_openai_vector_etl.py:617-778`, `:678-739`):
crawl -> manifest lookup -> skip-unchanged -> download -> extract ->
chunk -> chunk ids -> upload JSONL -> manifest upsert (+ stale-vector
delete). Here:

    snapshot ──left join state──> incremental plan (to_process only)
        ──fetch (stub transport)──> extract (stub)──> greedy chunker
        ──chunk ids──> JSONL sink
    state' = upsert(state, processed)     stale = plan.stale_vectors

The expensive Python stages run ONLY on `to_process` rows — the
filter-before-UDF ordering that is the reference's whole incremental
optimization (SURVEY.md §4 row 1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators.chunker import (
    DEFAULT_CHUNK_CHAR_LEN,
    chunk_id,
    explode_chunks,
)
from notion_vector_store_etl_pipeline_spark.operators.incremental import (
    IncrementPlan,
    plan_increment,
    upsert_state,
)
from notion_vector_store_etl_pipeline_spark.operators.sinks import chunk_records


@dataclass
class PipelineResult:
    plan: IncrementPlan
    chunks: DataFrame       # chunked records for to-process rows
    chunk_rows: DataFrame   # chunker output without the document text
    records: DataFrame      # upload-shaped records (id, text, metadata)
    next_state: DataFrame   # state after upsert
    stale_vectors: DataFrame


def run_pipeline(
    snapshot: DataFrame,
    state: DataFrame,
    extract=None,
    max_len: int = DEFAULT_CHUNK_CHAR_LEN,
    ingested_at: str = "1970-01-01T00:00:00",
) -> PipelineResult:
    """snapshot: (block_id, src, let, content_hash, text); state: the
    incremental state table. ``extract`` is the pluggable text-extraction
    stage (the reference's vision-LLM call, `:254-301`) — defaults to
    identity on `text`, the deterministic stub used for testing."""
    plan = plan_increment(snapshot, state)

    # keep every snapshot column (callers may carry labels through),
    # drop the state/flag columns the join added
    docs = plan.to_process.drop(
        "prior_let", "prior_hash", "vector_file_ids", "to_skip", "needs_vector"
    )
    to_process = extract(docs) if extract is not None else docs

    chunks = explode_chunks(to_process, text_col="text", max_len=max_len)
    chunks = chunks.withColumn(
        "chunk_id",
        chunk_id(F.col("src"), F.col("content_hash"), F.col("chunk_index")),
    ).withColumnRenamed("src", "source")
    # records and the per-doc chunk-id lists both derive from this one
    # narrow projection, so a caller that persists it runs extract and
    # the chunker once; it leaves out the document text, which `chunks`
    # would repeat once per chunk
    chunk_rows = chunks.select(
        "block_id", "chunk_id", "chunk_index", "source", "content_hash", "chunk_text"
    )

    records = chunk_records(chunk_rows, ingested_at=ingested_at)

    # state is recorded for EVERY processed doc, not just docs that
    # produced chunks — the reference writes its manifest entry
    # unconditionally (`:719-731`), with vector_file_ids possibly
    # empty. Deriving this from `chunks` alone left a zero-chunk doc
    # (empty/whitespace text) out of the upsert: its OLD state row
    # survived, still claiming the hash and vector ids of the previous
    # version, so every later run re-emitted the same already-deleted
    # ids as stale and reprocessed the doc forever (r10 review). The
    # doc keys come from `docs`, before extract, so the state side
    # never re-runs that stage.
    chunk_ids_per_doc = chunk_rows.groupBy("block_id").agg(
        F.sort_array(F.collect_list("chunk_id")).alias("vector_file_ids")
    )
    processed = (
        docs.select(
            "block_id",
            F.col("let").alias("prior_let"),
            F.col("content_hash").alias("prior_hash"),
        )
        .join(chunk_ids_per_doc, "block_id", "left")
        .withColumn(
            "vector_file_ids",
            F.coalesce("vector_file_ids", F.array().cast("array<string>")),
        )
    )
    next_state = upsert_state(state, processed)

    return PipelineResult(
        plan=plan,
        chunks=chunks,
        chunk_rows=chunk_rows,
        records=records,
        next_state=next_state,
        stale_vectors=plan.stale_vectors,
    )
