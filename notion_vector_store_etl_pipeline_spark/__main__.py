"""CLI entry point — the reference's `__main__` / `parse_config` /
`run_etl` surface (`Notion_openai_vector_etl.py:782-831`) re-expressed
for the Spark engine: every flag has an env-var default (the
reference's `os.environ.get` convention), booleans use the same
truthy-set parsing (`parse_bool`, `:52-55`), and `--dry-run` discovers
without processing (`:746-748`).

    python -m notion_vector_store_etl_pipeline_spark \
        --data-dir /root/testdata/sf0.001 \
        --state-path /tmp/nve-state \
        --output-dir /tmp/nve-chunks

A second run against the same state path skips everything unchanged
(the manifest semantics, `README.md:458-466`).
"""

from __future__ import annotations

import argparse
import os
import sys
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from notion_vector_store_etl_pipeline_spark.operators.cache import CacheScope
    from notion_vector_store_etl_pipeline_spark.pipeline import PipelineResult

TRUTHY = {"1", "true", "yes", "y", "on"}  # reference parse_bool (`:52-55`)


def parse_bool(v: str | bool | None, default: bool = False) -> bool:
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    return v.strip().lower() in TRUTHY


def int_env(name: str, default: int) -> int:
    try:
        return int(os.environ.get(name, "") or default)
    except ValueError:  # reference int_env (`:639-646`)
        return default


def normalize_notion_id(notion_id: str) -> str:
    """32 hex chars (hyphens optional) -> canonical 8-4-4-4-12 UUID form
    (reference `normalize_notion_id`, `:71-76`)."""
    compact = notion_id.replace("-", "")
    if len(compact) != 32:
        raise ValueError("Notion ID must be 32 hex chars; use 'Copy link' to get it.")
    return f"{compact[:8]}-{compact[8:12]}-{compact[12:16]}-{compact[16:20]}-{compact[20:]}"


def extract_id_from_notion_url(url: str) -> str:
    """First 32-hex run in the query-stripped, de-hyphenated URL
    (reference `extract_id_from_notion_url`, `:79-84`). Driver-side twin
    of the Column version in ``functions.strings.extract_id_from_url``."""
    import re

    cleaned = url.split("?")[0].replace("-", "")
    match = re.search(r"([0-9a-fA-F]{32})", cleaned)
    if not match:
        raise ValueError("Could not find a 32-character Notion page ID in URL.")
    return match.group(1)


def resolve_root_page_id(root_page_id: str | None, root_page_url: str | None) -> str | None:
    """Seed-id precedence exactly as the reference (`:87-99`):

    1. an explicit id wins if it normalizes;
    2. an id that does NOT normalize falls back to the URL when one is
       set (the reference forgives a pasted URL in the ID slot only if
       the URL slot can still resolve) — with no URL it raises;
    3. URL alone: extract the embedded id and normalize;
    4. neither set -> None (crawl has no seed filter).
    """
    if root_page_id:
        try:
            return normalize_notion_id(root_page_id)
        except ValueError:
            if root_page_url:
                return normalize_notion_id(extract_id_from_notion_url(root_page_url))
            raise
    if root_page_url:
        return normalize_notion_id(extract_id_from_notion_url(root_page_url))
    return None


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="notion_vector_store_etl_pipeline_spark",
        description="Incremental document->chunk ETL on Spark",
    )
    env = os.environ.get
    p.add_argument("--data-dir", default=env("NVE_DATA_DIR", "/root/testdata/sf0.001"))
    p.add_argument("--state-path", default=env("NVE_STATE_PATH"), required=env("NVE_STATE_PATH") is None)
    p.add_argument("--output-dir", default=env("NVE_OUTPUT_DIR"))
    p.add_argument("--chunk-char-len", type=int, default=int_env("NVE_CHUNK_CHAR_LEN", 1200))
    p.add_argument("--max-files", type=int, default=int_env("NVE_MAX_FILES", 0))
    p.add_argument("--lang-filter", default=env("NVE_LANG_FILTER", ""))
    p.add_argument("--dry-run", nargs="?", const="true", default=env("NVE_DRY_RUN", "false"))
    # optional crawl seed (reference `:802-803`: flag defaults from env)
    p.add_argument("--root-page-id", default=env("NVE_ROOT_PAGE_ID"))
    p.add_argument("--root-page-url", default=env("NVE_ROOT_PAGE_URL"))
    # continuous mode: run the whole ETL as one Structured Streaming
    # query (paginated source -> chunker -> vector-store sink) instead
    # of a batch pass; --output-dir becomes the store, --state-path the
    # streaming checkpoint
    p.add_argument("--streaming", nargs="?", const="true", default=env("NVE_STREAMING", "false"))
    p.add_argument("--page-size", type=int, default=int_env("NVE_PAGE_SIZE", 100))
    return p


def load_state(spark: SparkSession, path: str) -> DataFrame:
    """MISSING state -> empty table with schema (reference `:190-203`:
    absent manifest means a full run, not an error). A state that exists
    but cannot be read is a real error and propagates — silently
    treating corruption as 'no state' would reprocess everything and
    then overwrite the good history on commit."""
    from notion_vector_store_etl_pipeline_spark.operators.incremental import (
        STATE_COLUMNS,
        recover_state,
    )
    from notion_vector_store_etl_pipeline_spark.session import empty_frame

    schema = (
        "block_id BIGINT, prior_let STRING, prior_hash STRING, "
        "vector_file_ids ARRAY<STRING>"
    )
    # a crash between commit_state's two swap renames leaves the last
    # good state as a `.old-*` sibling and nothing at `path` — restore
    # it BEFORE the missing check, else the run silently reprocesses
    # the whole corpus with an empty stale set (r10 review; this is the
    # startup call recover_state's docstring prescribes)
    recover_state(path, spark=spark)
    missing = not os.path.exists(path) if "://" not in path else False
    if missing:
        return empty_frame(spark, schema)
    try:
        return spark.read.parquet(path).select(*STATE_COLUMNS)
    except Exception as exc:  # remote FS: only PATH_NOT_FOUND means missing
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return empty_frame(spark, schema)
        raise


def build_snapshot(spark: SparkSession, data_dir: str) -> DataFrame:
    """The 'crawl': documents as source records. `let` (the change
    signal, the reference's last_edited_time) derives from content —
    fixtures carry no edit timestamps."""
    from notion_vector_store_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, data_dir, "documents")
    content_hash = F.sha2("text", 256)
    return docs.select(
        F.col("doc_id").alias("block_id"),
        F.col("source").alias("src"),
        F.substring(content_hash, 1, 16).alias("let"),
        content_hash.alias("content_hash"),
        "text",
        "lang",
    )


def run_streaming(spark: SparkSession, args) -> int:
    """Continuous ETL: one streaming query over the paginated source,
    chunked and published to the vector-store sink exactly-once. The
    checkpoint (under --state-path) owns resume; re-running after all
    pages are consumed publishes nothing new."""
    from notion_vector_store_etl_pipeline_spark.sources.vectorstore import read_store
    from notion_vector_store_etl_pipeline_spark.streaming.pipeline import streaming_etl

    if not args.output_dir:
        # the reference lazily creates a vector store when none is
        # configured (`ensure_vector_store`, Notion_openai_vector_etl.py
        # :600-606) and remembers it in the manifest; the engine's
        # equivalent is a DETERMINISTIC default store dir under the
        # state path — re-runs resolve the same store without any
        # recorded id (VERDICT r11 missing #2)
        args.output_dir = os.path.join(args.state_path, "vector-store")
        print(f"store: no --output-dir given; using default store {args.output_dir}")
    source = os.path.join(args.data_dir, "documents.parquet")
    q = streaming_etl(
        spark,
        source,
        args.output_dir,
        os.path.join(args.state_path, "stream-ckpt"),
        page_size=args.page_size,
        max_len=args.chunk_char_len,
    )
    q.processAllAvailable()
    q.stop()
    n = read_store(spark, args.output_dir).count()
    print(f"streaming: store={args.output_dir} total_chunks={n}")
    return 0


def count_run(
    result: PipelineResult, scope: CacheScope, dry_run: bool = False
) -> dict[str, int]:
    """Pin the frames the run's actions share in ``scope`` and count its
    summary.

    ``to_process`` (the snapshot⋈state join with its content hash) feeds
    the processed count, the stale set, the chunker and the state
    commit; ``chunk_rows`` (the chunker output) feeds the chunk count,
    the JSONL records and the state commit's chunk-id lists. Pinning
    the two runs the join and the chunker once per run; the caller's
    scope releases them. The skip count reads ``joined``, which Catalyst
    prunes to its key columns (no text read, no hash computed); it is
    exact because ``to_skip`` is never NULL. A dry run counts processed
    and skipped only and pins nothing.
    """
    plan = result.plan
    if not dry_run:
        scope.persist(plan.to_process)
    n_process = plan.to_process.count()
    counts = {"processed": n_process, "skipped": plan.joined.count() - n_process}
    if dry_run:
        return counts
    scope.persist(result.chunk_rows)
    counts["chunks"] = result.chunk_rows.count()
    counts["stale_vectors"] = result.stale_vectors.count()
    return counts


def main(argv: list[str] | None = None) -> int:
    from notion_vector_store_etl_pipeline_spark import get_spark
    from notion_vector_store_etl_pipeline_spark.operators.cache import cache_scope
    from notion_vector_store_etl_pipeline_spark.operators.incremental import commit_state
    from notion_vector_store_etl_pipeline_spark.operators.sinks import write_chunks_jsonl
    from notion_vector_store_etl_pipeline_spark.pipeline import run_pipeline

    args = build_arg_parser().parse_args(argv)
    dry_run = parse_bool(args.dry_run)
    if not dry_run and not args.output_dir and not parse_bool(args.streaming):
        # the streaming branch mints a default store instead
        # (run_streaming); the batch branch's JSONL output dir has no
        # such convention
        print("error: --output-dir required unless --dry-run", file=sys.stderr)
        return 2
    try:
        root_id = resolve_root_page_id(args.root_page_id, args.root_page_url)
    except ValueError as exc:  # reference `:632-636`: invalid seed is a config error
        print(f"error: {exc} If you only have a URL, set NVE_ROOT_PAGE_URL.", file=sys.stderr)
        return 2
    if root_id:
        print(f"seed: root page {root_id}")

    spark = get_spark(app_name="nve-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if parse_bool(args.streaming):
        if dry_run:
            # refuse loudly rather than silently running the full ETL:
            # the streaming branch publishes to the store and advances
            # the checkpoint — there is no discover-without-processing
            # mode for it, and pretending otherwise would make the
            # next real run non-repeatable (r10 review)
            print(
                "error: --dry-run is not supported with --streaming "
                "(the streaming ETL has no discovery-only mode)",
                file=sys.stderr,
            )
            return 2
        return run_streaming(spark, args)

    snapshot = build_snapshot(spark, args.data_dir)
    if args.lang_filter:
        langs = [s.strip() for s in args.lang_filter.split(",") if s.strip()]
        snapshot = snapshot.filter(F.col("lang").isin(langs))  # F2 semi-filter
    if args.max_files > 0:
        # L2 MAX_FILES — ordered first: a bare limit() picks an arbitrary
        # subset per run, which would make incremental runs churn instead
        # of converging (the reference's crawl order is deterministic)
        snapshot = snapshot.orderBy("block_id").limit(args.max_files)

    state = load_state(spark, args.state_path)
    result = run_pipeline(snapshot, state, max_len=args.chunk_char_len)
    with cache_scope() as c:
        counts = count_run(result, c, dry_run)
        if dry_run:  # discover without processing (`:746-748`)
            print(
                f"[dry-run] would process {counts['processed']} files, "
                f"skip {counts['skipped']} (unchanged)"
            )
            return 0
        write_chunks_jsonl(result.records, args.output_dir)
        commit_state(result.next_state, args.state_path)
    # the reference's run summary (`:771-776`)
    print(
        f"processed={counts['processed']} skipped={counts['skipped']} "
        f"chunks={counts['chunks']} stale_vectors={counts['stale_vectors']} "
        f"state={args.state_path} output={args.output_dir}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
