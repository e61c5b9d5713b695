"""Streaming ingest-dedup latency smoke at a given scale fixture.

Splits documents.parquet into a corpus (95%, doc_id % 20 != 0) and an
incoming stream (5%), builds the stored LSH index once, then drives
``streaming_dedup_ingest`` for N micro-batches and prints the
PER-BATCH trigger latency series — the number that must stay flat
with stream age for the 100 TB daily-ingest pitch (VERDICT r8
next-round #1/#6). Options exercise the round-9 lifecycle pieces:

    python scripts/stream_smoke.py [sf_dir] [n_batches] [flags]

    --compact-every=K   in-stream compaction every K batches
    --prune             delete folded index-delta dirs at each
                        compaction (compact_prune_deltas)
    --stream-frac=N     stream every Nth doc (default 20, i.e. a 5%
                        stream; --stream-frac=2 streams HALF the docs
                        — by stream end the accumulated prior-clean
                        data rivals the corpus itself, which is what
                        makes the uncompacted run's O(stream-age)
                        data term visible inside a bounded smoke)
    --intra             also dedup within each micro-batch

Prints one line per batch (batch id, docs, trigger seconds) plus the
flagged/clean totals, and a JSON summary line for the evidence page.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    streaming_dedup_ingest,
)
from notion_vector_store_etl_pipeline_spark.streaming.state import read_compaction_manifest


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    sf_dir = args[0] if args else ".scale/sf1"
    n_batches = int(args[1]) if len(args) > 1 else 20
    compact_every = None
    stream_frac = 20
    for f in flags:
        if f.startswith("--compact-every="):
            compact_every = int(f.split("=")[1])
        if f.startswith("--stream-frac="):
            stream_frac = int(f.split("=")[1])
    intra = "--intra" in flags
    prune = "--prune" in flags

    spark = get_spark(app_name="stream-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress is a RING BUFFER (default 100 entries): a long
    # series would silently drop its earliest batches and ms_per_doc
    # would divide a truncated numerator by the full stream (r10
    # scripts review). Size it to the run before the query starts.
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(max(1000, n_batches * 2)),
    )
    work = tempfile.mkdtemp(prefix="stream_smoke_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        corpus = docs.filter(F.col("doc_id") % stream_frac != 0)
        stream = docs.filter(F.col("doc_id") % stream_frac == 0)
        n_stream = stream.count()
        n_corpus = corpus.count()
        page_size = math.ceil(n_stream / n_batches)

        corpus_path = f"{work}/corpus"
        corpus.write.parquet(corpus_path)
        stream_file = f"{work}/incoming.parquet"
        stream.orderBy("doc_id").toPandas().to_parquet(stream_file, index=False)

        t0 = time.monotonic()
        index = D.build_lsh_index(corpus)
        index_path = f"{work}/lsh_index"
        D.write_lsh_index(index, index_path)
        build_s = time.monotonic() - t0
        print(
            f"corpus={n_corpus} stream={n_stream} batches={n_batches} "
            f"page={page_size} compact_every={compact_every} "
            f"intra={intra} index_build_s={build_s:.2f}"
        )

        out, ckpt = f"{work}/out", f"{work}/ckpt"
        q = streaming_dedup_ingest(
            spark,
            stream_file,
            corpus_path,
            index_path,
            out,
            ckpt,
            page_size=page_size,
            pages_per_batch=1,
            update_index=True,
            compact_every=compact_every,
            compact_prune_deltas=prune,
            intra_batch=intra,
        )
        q.processAllAvailable()
        progress = [json.loads(str(p)) for p in q.recentProgress]
        q.stop()

        series = []
        for p in progress:
            bid = p["batchId"]
            # numInputRows is unreliable for Python data sources — both
            # as a doc count AND as a batch filter (a real batch it
            # reports as 0 would vanish from the series); membership is
            # decided by the page math instead
            n_docs = max(0, min(n_stream - bid * page_size, page_size))
            if n_docs > 0:
                series.append(
                    (bid, n_docs, p["durationMs"]["triggerExecution"] / 1000.0)
                )
        expected = math.ceil(n_stream / page_size)
        if len({b for b, _, _ in series}) < expected:
            print(
                f"WARNING: progress covers {len(series)}/{expected} batches "
                "(ring buffer truncation?) — per-batch series incomplete; "
                "ms_per_doc uses only the OBSERVED batches' docs"
            )
        for bid, rows, sec in series:
            print(f"batch {bid:>3}  docs {rows:>6}  trigger_s {sec:7.2f}")

        flagged = spark.read.parquet(f"{out}/flagged").count()
        clean = spark.read.parquet(f"{out}/clean").count()
        man = read_compaction_manifest(out)
        steady = [s for _, _, s in series[2:]] or [s for _, _, s in series]
        summary = {
            "sf_dir": sf_dir,
            "n_corpus": n_corpus,
            "n_stream": n_stream,
            "n_batches": len(series),
            "page_size": page_size,
            "compact_every": compact_every,
            "prune": prune,
            "intra": intra,
            "index_build_s": round(build_s, 2),
            "flagged_pairs": flagged,
            "clean_docs": clean,
            "manifest_version": man["version"] if man else 0,
            "steady_min_s": round(min(steady), 2),
            "steady_max_s": round(max(steady), 2),
            # observed docs, not n_stream: if the series were ever
            # truncated, dividing by the full stream would understate
            "ms_per_doc": round(
                1000
                * sum(s for _, _, s in series)
                / max(sum(d for _, d, _ in series), 1),
                2,
            ),
        }
        print(json.dumps(summary))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
