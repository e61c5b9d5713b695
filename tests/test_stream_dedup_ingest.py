"""Streaming ingest-dedup pipeline (VERDICT r7 item 5): micro-batched
new docs probed against the STORED LSH corpus index inside
foreachBatch, flagged dups diverted, clean docs + index deltas
committed exactly-once. Parity target: the batch incremental probe
(operators.dedup.minhash_probe_neardup) over the same split.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.cache import persist, release_cache
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    streaming_dedup_ingest,
)

SOURCE = "/root/testdata/sf0.001/documents.parquet"


def _split_fixture(spark, tmp_path):
    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_path = str(tmp_path / "corpus")
    batch_path = str(tmp_path / "incoming.parquet")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    # the paginated source reads one parquet FILE (it stands in for a
    # remote API); write it ordered so page boundaries are deterministic
    batch.orderBy("doc_id").toPandas().to_parquet(batch_path, index=False)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)
    return docs, corpus_path, batch_path, index_path


def _run(spark, batch_path, corpus_path, index_path, out, ckpt, **kw):
    q = streaming_dedup_ingest(
        spark, batch_path, corpus_path, index_path, out, ckpt, **kw
    )
    q.processAllAvailable()
    q.stop()


def test_stream_probe_matches_batch_probe(spark, tmp_path):
    """With update_index=False every micro-batch is independent, so the
    union of flagged pairs across batches must equal the BATCH
    incremental probe's pair set exactly — streaming adds no drift —
    and the clean store must hold exactly the unflagged batch docs."""
    docs, corpus_path, batch_path, index_path = _split_fixture(spark, tmp_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(
        spark,
        batch_path,
        corpus_path,
        index_path,
        out,
        ckpt,
        page_size=20,
        pages_per_batch=1,
        update_index=False,
    )

    stream_pairs = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in spark.read.parquet(f"{out}/flagged").select(
            "batch_id", "corpus_id", "jaccard"
        ).collect()
    }
    batch_pairs = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in D.minhash_probe_neardup(
            docs, F.col("doc_id") % 10 == 0, threshold=0.2
        ).collect()
    }
    release_cache()
    assert stream_pairs == batch_pairs
    assert batch_pairs, "fixture produced no probe pairs; parity is vacuous"

    batch_ids = {r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    flagged_ids = {b for b, _, _ in stream_pairs}
    clean_ids = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert clean_ids == batch_ids - flagged_ids

    # restart on the same checkpoint: nothing new to consume, outputs
    # unchanged (exactly-once across restarts)
    _run(
        spark,
        batch_path,
        corpus_path,
        index_path,
        out,
        ckpt,
        page_size=20,
        pages_per_batch=1,
        update_index=False,
    )
    assert {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in spark.read.parquet(f"{out}/flagged").select(
            "batch_id", "corpus_id", "jaccard"
        ).collect()
    } == stream_pairs
    assert {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()} == clean_ids


def test_stream_index_deltas_dedup_across_batches(spark, tmp_path):
    """update_index=True: a doc that duplicates a CLEAN doc from an
    earlier micro-batch must be flagged against it (the index grows by
    per-batch deltas; the base index is never recomputed), while the
    earlier doc itself stays clean."""
    novel = (
        "a genuinely novel document about adaptive query execution and "
        "partition coalescing in distributed engines today"
    )
    rows = [
        (1001, novel),
        (1002, novel + " with one extra trailing clause appended"),  # near-dup of 1001
        (1003, "entirely distinct content concerning tokenizer vocabularies"),
    ]
    import pandas as pd

    batch_path = str(tmp_path / "incoming.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(batch_path)

    corpus = spark.createDataFrame(
        [(1, "old corpus text about warehouse inventory planning and restocking")],
        "doc_id: long, text: string",
    )
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # another caller's cache in the same session: the stream must
    # leave it alone (its batches release only their own pins)
    other = persist(spark.range(3), eager=True)
    # page_size=1, one page per batch -> one doc per micro-batch, in
    # file order: 1001 first, then its near-dup 1002
    _run(
        spark,
        batch_path,
        corpus_path,
        index_path,
        out,
        ckpt,
        page_size=1,
        pages_per_batch=1,
        threshold=0.5,
        update_index=True,
    )

    flagged = spark.read.parquet(f"{out}/flagged").select(
        "batch_id", "corpus_id"
    ).collect()
    pairs = {(r.batch_id, r.corpus_id) for r in flagged}
    assert pairs == {(1002, 1001)}  # cross-BATCH dup caught via delta
    clean_ids = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert clean_ids == {1001, 1003}
    # the index deltas cover exactly the clean docs
    delta_sids = {
        r.sid for r in spark.read.parquet(f"{out}/index_delta").select("sid").collect()
    }
    assert delta_sids == {1001, 1003}
    level = other.storageLevel
    assert level.useMemory or level.useDisk, "the stream released a foreign cache"
    other.unpersist()


def test_stream_replay_ignores_own_crashed_artifacts(spark, tmp_path):
    """Crash-replay soundness of the per-batch overwrite discipline: if
    a run died AFTER writing batch 0's clean docs + index delta but
    BEFORE the epoch commit, the restart replays batch 0 — and must
    ignore the crashed attempt's own artifacts (strict batch_id bound
    in streaming.state.read_prior_batches). Without the bound, the replayed doc finds
    its own signature in the delta index and flags itself as its own
    duplicate."""
    import pandas as pd

    doc = (1001, "some document text that is long enough to produce shingles here")
    batch_path = str(tmp_path / "incoming.parquet")
    pd.DataFrame([doc], columns=["doc_id", "text"]).to_parquet(batch_path, index=False)

    corpus = spark.createDataFrame(
        [(1, "unrelated corpus text about completely different considerations")],
        "doc_id: long, text: string",
    )
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    # fabricate the crashed attempt: batch 0's artifacts exist on disk,
    # but the (empty) checkpoint says batch 0 was never committed
    out = str(tmp_path / "out")
    batch_df = spark.createDataFrame([doc], "doc_id: long, text: string")
    batch_df.write.parquet(f"{out}/clean/batch_id=0")
    D.build_lsh_index(batch_df, dense_bucket_cap=None).write.parquet(
        f"{out}/index_delta/batch_id=0"
    )

    _run(
        spark,
        batch_path,
        corpus_path,
        index_path,
        out,
        str(tmp_path / "ckpt"),
        page_size=1,
        pages_per_batch=1,
        threshold=0.5,
        update_index=True,
    )
    assert spark.read.parquet(f"{out}/flagged").count() == 0  # no self-flag
    assert {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()} == {1001}


def test_compact_lsh_index_equals_scratch_build(spark, tmp_path):
    """Index maintenance: folding the stream's per-batch deltas into
    the base index (compact_lsh_index) must yield an index whose probe
    results equal a scratch build over base-corpus + streamed clean
    docs (exact equality here — no dense buckets at fixture scale; for
    over-cap buckets the compacted index is documented conservative:
    never fewer probe targets than scratch)."""
    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    base_docs = docs.filter(F.col("doc_id") % 10 > 1)
    delta_docs = docs.filter(F.col("doc_id") % 10 == 1)
    batch_docs = docs.filter(F.col("doc_id") % 10 == 0)

    base_path = str(tmp_path / "base_idx")
    delta_dir = str(tmp_path / "deltas")
    out_path = str(tmp_path / "compacted_idx")
    D.write_lsh_index(D.build_lsh_index(base_docs), base_path)
    # two "micro-batch" deltas, written the way the stream writes them
    for i, part in enumerate((F.col("doc_id") % 20 == 1, F.col("doc_id") % 20 == 11)):
        D.build_lsh_index(delta_docs.filter(part), dense_bucket_cap=None).write.parquet(
            f"{delta_dir}/batch_id={i}"
        )
    D.compact_lsh_index(spark, base_path, delta_dir, out_path)

    probe_input = docs  # batch + full corpus texts for verification
    compacted = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in D.minhash_probe_neardup(
            probe_input,
            F.col("doc_id") % 10 == 0,
            threshold=0.2,
            corpus_index=D.load_lsh_index(spark, out_path),
        ).collect()
    }
    release_cache()
    scratch_path = str(tmp_path / "scratch_idx")
    D.write_lsh_index(
        D.build_lsh_index(docs.filter(F.col("doc_id") % 10 != 0)), scratch_path
    )
    scratch = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in D.minhash_probe_neardup(
            probe_input,
            F.col("doc_id") % 10 == 0,
            threshold=0.2,
            corpus_index=D.load_lsh_index(spark, scratch_path),
        ).collect()
    }
    release_cache()
    assert compacted == scratch
    assert scratch, "no probe pairs at fixture scale; equality is vacuous"
    assert batch_docs.count() > 0 and delta_docs.count() > 0


def test_stored_index_probe_has_no_corpus_side_python(spark, tmp_path):
    """The stored-index probe's core claim, pinned at PLAN level: with
    a loaded index, the corpus contributes a parquet scan of the index
    — NO shingle/signature Python stage. The fresh probe shingles both
    sides; the stored probe only the batch, so its plan must contain
    strictly fewer Arrow/pandas Python stages and must scan the index
    path."""
    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    split = F.col("doc_id") % 10 == 0
    path = str(tmp_path / "idx")
    D.write_lsh_index(D.build_lsh_index(docs.filter(~split)), path)

    def n_python_stages(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(
            plan.count(tag)
            for tag in (
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "BatchEvalPython",
            )
        )

    fresh = D.minhash_probe_neardup(docs, split, threshold=0.2)
    stored = D.minhash_probe_neardup(
        docs, split, threshold=0.2, corpus_index=D.load_lsh_index(spark, path)
    )
    try:
        n_fresh, n_stored = n_python_stages(fresh), n_python_stages(stored)
        stored_plan = stored._jdf.queryExecution().executedPlan().toString()
    finally:
        release_cache()
    assert n_stored < n_fresh, (n_stored, n_fresh)
    assert "idx" in stored_plan  # the index parquet scan is in the plan


def test_compact_lsh_index_dense_bucket_is_conservative(spark, tmp_path):
    """The documented divergence at the dense-bucket margin: a bucket
    already collapsed in the base index under-reports its true size,
    so after compaction it may keep MORE probe targets than a scratch
    build — never fewer. Fabricated indexes force the case: base
    bucket collapsed to 2 members, deltas add 4 more (true size 10 >
    cap 8; merged size 6 <= cap, so compaction keeps all 6)."""
    base_melted = spark.createDataFrame(
        [(i, 0, 7) for i in range(1, 11)], "sid: long, band: int, bucket: long"
    )
    base_path = str(tmp_path / "base")
    D.write_lsh_index(D.collapse_dense_buckets(base_melted, dense_bucket_cap=8), base_path)
    delta_dir = str(tmp_path / "deltas")
    spark.createDataFrame(
        [(i, 0, 7) for i in range(20, 24)], "sid: long, band: int, bucket: long"
    ).write.parquet(f"{delta_dir}/batch_id=0")
    out_path = str(tmp_path / "compacted")
    D.compact_lsh_index(spark, base_path, delta_dir, out_path, dense_bucket_cap=8)
    compacted = {r.sid for r in D.load_lsh_index(spark, out_path).collect()}

    # scratch build over the full membership collapses to 2
    scratch = D.collapse_dense_buckets(
        base_melted.unionByName(
            spark.createDataFrame(
                [(i, 0, 7) for i in range(20, 24)], "sid: long, band: int, bucket: long"
            )
        ),
        dense_bucket_cap=8,
    )
    scratch_sids = {r.sid for r in scratch.collect()}
    assert scratch_sids == {1, 2}
    assert compacted == {1, 2, 20, 21, 22, 23}  # superset: conservative
    assert compacted >= scratch_sids


def _planted_stream_fixture(tmp_path):
    """A 26-doc stream with near-dup pairs PLANTED to span compaction
    boundaries (compact_every=10 with one doc per batch => boundaries
    at batches 10 and 20): (3 ~ 1) both pre-compaction, (12 ~ 2)
    across the first boundary (2 is folded into corpus v1 when batch
    12 probes), (23 ~ 15) across the second, and (5 ~ corpus doc 900).
    Everything else is unique."""
    import pandas as pd

    def doc(i, topic):
        return (
            1000 + i,
            f"stream document number {i} concerning {topic} with several "
            f"additional carefully distinct words about {topic} handling",
        )

    topics = [
        "tokenizer vocabularies", "adaptive execution", "columnar layouts",
        "watermark semantics", "broadcast thresholds", "warehouse restocking",
        "gradient checkpointing", "sparse attention", "curriculum sampling",
        "parquet footers", "speculative decoding", "rope scaling",
        "flash kernels", "optimizer states", "mixture routing",
        "context caching", "beam search", "grammar constraints",
        "kv eviction", "lora adapters", "quantized inference",
        "paged attention", "tensor parallelism", "sequence packing",
        "dedup thresholds", "shard rebalancing",
    ]
    rows = [doc(i, topics[i]) for i in range(26)]
    rows[3] = (1003, rows[1][1] + " plus one extra trailing clause")
    rows[12] = (1012, rows[2][1] + " plus one extra trailing clause")
    rows[23] = (1023, rows[15][1] + " plus one extra trailing clause")
    corpus_rows = [
        (900, "corpus document about restocking warehouse inventory planning "
              "cycles and their seasonal adjustment factors in detail"),
        (901, "corpus document describing entirely unrelated matters of "
              "orchestral arrangement and woodwind maintenance routines"),
    ]
    rows[5] = (1005, corpus_rows[0][1] + " plus one extra trailing clause")

    batch_path = str(tmp_path / "incoming.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(batch_path, index=False)
    return batch_path, corpus_rows


@pytest.mark.slow
def test_stream_across_compaction_boundary(spark, tmp_path):
    """The round-9 lifecycle test (VERDICT r8 next-round #1): a 26-batch
    stream with compact_every=10 must (a) produce EXACTLY the same
    flagged pairs and clean store as the same stream without compaction
    — compaction is a pure cost change; (b) catch planted near-dup
    pairs that span each compaction boundary (the probed doc's partner
    lives in a compacted corpus/index version, not the per-batch tail);
    (c) leave a manifest whose corpus versions hold exactly the folded
    clean batches, so the per-batch tail read is bounded by
    compact_every instead of stream age."""
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        read_compaction_manifest,
    )

    batch_path, corpus_rows = _planted_stream_fixture(tmp_path)
    corpus = spark.createDataFrame(corpus_rows, "doc_id: long, text: string")
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    outs = {}
    for name, extra in (
        ("compacted", {"compact_every": 10}),
        ("plain", {}),
    ):
        out, ckpt = str(tmp_path / f"out_{name}"), str(tmp_path / f"ckpt_{name}")
        _run(
            spark,
            batch_path,
            corpus_path,
            index_path,
            out,
            ckpt,
            page_size=1,
            pages_per_batch=1,
            threshold=0.5,
            update_index=True,
            **extra,
        )
        outs[name] = {
            "flagged": {
                (r.batch_id, r.corpus_id)
                for r in spark.read.parquet(f"{out}/flagged")
                .select("batch_id", "corpus_id")
                .collect()
            },
            "clean": {
                r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()
            },
        }

    # (a) compaction changes nothing semantically
    assert outs["compacted"] == outs["plain"]
    # (b) the planted pairs — incl. both compaction-boundary spanners
    assert outs["compacted"]["flagged"] == {
        (1003, 1001),
        (1012, 1002),
        (1023, 1015),
        (1005, 900),
    }
    # (c) manifest state: two compactions ran (batches 10 and 20), the
    # folded corpus versions hold exactly the folded clean batches
    out = str(tmp_path / "out_compacted")
    man = read_compaction_manifest(out)
    assert man["version"] == 2 and man["through_batch"] == 19
    versions = spark.read.parquet(f"{out}/corpus_versions")
    v1 = {r.doc_id for r in versions.filter(F.col("v") == 1).collect()}
    v2 = {r.doc_id for r in versions.filter(F.col("v") == 2).collect()}
    flagged_ids = {b for b, _ in outs["compacted"]["flagged"]}
    assert v1 == {1000 + i for i in range(10)} - flagged_ids
    assert v2 == {1000 + i for i in range(10, 20)} - flagged_ids
    # the compacted index covers every folded clean doc
    idx_sids = {
        r.sid
        for r in D.load_lsh_index(
            spark, f"{out}/index_versions/v2"
        ).select("sid").collect()
    }
    assert (v1 | v2 | {900, 901}) <= idx_sids


@pytest.mark.slow
def test_compact_stream_state_idempotent(spark, tmp_path):
    """Replay safety: re-invoking compaction with the same (or a lower)
    through_batch is a no-op returning the published manifest — the
    crash-replay of the batch that triggered compaction must not fold
    twice or bump the version."""
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        compact_stream_state,
    )

    batch_path, corpus_rows = _planted_stream_fixture(tmp_path)
    corpus = spark.createDataFrame(corpus_rows, "doc_id: long, text: string")
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(
        spark, batch_path, corpus_path, index_path, out, ckpt,
        page_size=1, pages_per_batch=1, threshold=0.5, update_index=True,
    )
    man1 = compact_stream_state(
        spark, out, through_batch=9,
        base_index_path=index_path, base_corpus_path=corpus_path,
        prune_deltas=True,
    )
    man2 = compact_stream_state(
        spark, out, through_batch=9,
        base_index_path=index_path, base_corpus_path=corpus_path,
        prune_deltas=True,
    )
    assert man1 == man2 and man1["version"] == 1 and man1["through_batch"] == 9

    # prune_deltas removed exactly the FOLDED delta dirs; later batches'
    # deltas survive and a follow-up compaction folds them from disk
    import os

    remaining = {
        d for d in os.listdir(f"{out}/index_delta") if d.startswith("batch_id=")
    }
    assert remaining == {f"batch_id={i}" for i in range(10, 26)}
    man3 = compact_stream_state(
        spark, out, through_batch=19,
        base_index_path=index_path, base_corpus_path=corpus_path,
        prune_deltas=True,
    )
    assert man3["version"] == 2 and man3["through_batch"] == 19
    # the v2 index covers the docs whose deltas were folded in BOTH
    # rounds (nothing lost to pruning)
    idx_sids = {
        r.sid
        for r in D.load_lsh_index(spark, f"{out}/index_versions/v2")
        .select("sid")
        .collect()
    }
    clean_through_19 = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/clean")
        .filter(F.col("batch_id") < 20)
        .collect()
    }
    assert clean_through_19 <= idx_sids


def test_stream_intra_batch_dedup_option(spark, tmp_path):
    """ADVICE r8: two near-dups arriving in the SAME micro-batch. By
    default both land clean (documented cross-batch-only semantics);
    with intra_batch=True the higher-id doc is flagged against the
    lower, and only the survivor enters the index delta."""
    import pandas as pd

    novel = (
        "a genuinely novel document about adaptive query execution and "
        "partition coalescing in distributed engines today"
    )
    rows = [
        (2001, novel),
        (2002, novel + " with one extra trailing clause appended"),
        (2003, "entirely distinct content concerning tokenizer vocabularies"),
    ]
    batch_path = str(tmp_path / "incoming.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(batch_path, index=False)
    corpus = spark.createDataFrame(
        [(1, "old corpus text about warehouse inventory planning and restocking")],
        "doc_id: long, text: string",
    )
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    for name, intra, want_pairs, want_clean in (
        ("off", False, set(), {2001, 2002, 2003}),
        ("on", True, {(2002, 2001)}, {2001, 2003}),
    ):
        out, ckpt = str(tmp_path / f"out_{name}"), str(tmp_path / f"ckpt_{name}")
        # page_size=3 -> all three docs in ONE micro-batch
        _run(
            spark, batch_path, corpus_path, index_path, out, ckpt,
            page_size=3, pages_per_batch=1, threshold=0.5,
            update_index=True, intra_batch=intra,
        )
        flagged = {
            (r.batch_id, r.corpus_id)
            for r in spark.read.parquet(f"{out}/flagged")
            .select("batch_id", "corpus_id")
            .collect()
        }
        assert flagged == want_pairs, name
        clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
        assert clean == want_clean, name
        delta_sids = {
            r.sid
            for r in spark.read.parquet(f"{out}/index_delta").select("sid").collect()
        }
        assert delta_sids == want_clean, name


def test_latest_committed_batch(spark, tmp_path):
    """The committed-epoch reader compaction keys off: equals the last
    processed batch id after a clean run; -1 for a missing/empty
    checkpoint."""
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        latest_committed_batch,
    )

    assert latest_committed_batch(str(tmp_path / "nope")) == -1
    docs, corpus_path, batch_path, index_path = _split_fixture(spark, tmp_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(
        spark, batch_path, corpus_path, index_path, out, ckpt,
        page_size=20, pages_per_batch=1, update_index=False,
    )
    n_batches = len(
        [d for d in __import__("os").listdir(f"{out}/clean") if d.startswith("batch_id=")]
    )
    assert latest_committed_batch(ckpt) == n_batches - 1


def test_stream_restart_resumes_against_compacted_state(spark, tmp_path):
    """Ops-shaped lifecycle: run 1 ingests 12 one-doc batches and
    compacts at batch 10 (manifest v1, through batch 9); the source
    then GROWS and the stream restarts on the same checkpoint. The
    resumed batches must anchor on the manifest — dups are caught
    whether the partner lives in (a) the compacted corpus version
    (partner from batch 2, folded), (b) the uncompacted tail (partner
    from batch 13, after the watermark), or (c) a post-restart delta
    (partner from batch 16) — and the manifest is not re-folded."""
    import pandas as pd

    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        read_compaction_manifest,
    )

    def doc(i, topic):
        return (
            1000 + i,
            f"stream document number {i} concerning {topic} with several "
            f"additional carefully distinct words about {topic} handling",
        )

    topics = [
        "tokenizer vocabularies", "adaptive execution", "columnar layouts",
        "watermark semantics", "broadcast thresholds", "inventory restocking",
        "gradient checkpointing", "sparse attention", "curriculum sampling",
        "parquet footers", "speculative decoding", "rope scaling",
        "flash kernels", "optimizer states", "mixture routing",
        "context caching", "beam search", "grammar constraints",
        "kv eviction", "lora adapters",
    ]
    rows = [doc(i, topics[i]) for i in range(20)]
    rows[3] = (1003, rows[1][1] + " plus one extra trailing clause")
    rows[15] = (1015, rows[2][1] + " plus one extra trailing clause")   # vs compacted
    rows[18] = (1018, rows[13][1] + " plus one extra trailing clause")  # vs tail
    rows[19] = (1019, rows[16][1] + " plus one extra trailing clause")  # vs new delta

    corpus = spark.createDataFrame(
        [(900, "corpus document about entirely separate subject matter of "
               "orchestral arrangement and woodwind maintenance routines")],
        "doc_id: long, text: string",
    )
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    batch_path = str(tmp_path / "incoming.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(
        page_size=1, pages_per_batch=1, threshold=0.5,
        update_index=True, compact_every=10,
    )
    # run 1: the first 12 docs only
    pd.DataFrame(rows[:12], columns=["doc_id", "text"]).to_parquet(
        batch_path, index=False
    )
    _run(spark, batch_path, corpus_path, index_path, out, ckpt, **kw)
    man = read_compaction_manifest(out)
    assert man["version"] == 1 and man["through_batch"] == 9

    # the source grows (same prefix — an append-only crawl cursor),
    # stream restarts on the SAME checkpoint and resumes at batch 12
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        batch_path, index=False
    )
    _run(spark, batch_path, corpus_path, index_path, out, ckpt, **kw)

    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    assert flagged == {
        (1003, 1001),
        (1015, 1002),
        (1018, 1013),
        (1019, 1016),
    }
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert clean == {1000 + i for i in range(20)} - {1003, 1015, 1018, 1019}
    # no further compaction ran (batch 20 never arrived): same manifest
    man2 = read_compaction_manifest(out)
    assert man2 == man


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a fresh Spark job group; return how many jobs
    it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_probe_batch_job_ceiling(spark):
    """probe_batch is bound by job count, not data, at micro-batch
    size: the batch crosses the shingle UDF once and every later stage
    reads the two pins. A 100-doc batch with no intra pairs (five
    cross-id near-dups of corpus docs) stays within 30 jobs; the
    composition that shingled the batch four times launched 44 here."""
    import random

    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        probe_batch,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    corpus = [(i, " ".join(rng.choices(vocab, k=40))) for i in range(300)]
    batch = [(1000 + i, " ".join(rng.choices(vocab, k=40))) for i in range(95)]
    batch += [(2000 + i, corpus[i][1] + " tail") for i in range(5)]
    schema = "doc_id: long, text: string"
    corpus_df = spark.createDataFrame(corpus, schema)
    batch_df = spark.createDataFrame(batch, schema)
    index = D.build_lsh_index(corpus_df).localCheckpoint(eager=True)
    out = []
    jobs = _jobs_in(
        spark,
        "probe_batch_job_ceiling",
        lambda: out.extend(
            probe_batch(
                batch_df,
                corpus_df,
                index,
                intra_batch=True,
                return_clean_buckets=True,
            )
        ),
    )
    flagged, clean, clean_mb = out
    assert sorted((r.batch_id, r.corpus_id) for r in flagged.collect()) == [
        (2000 + i, i) for i in range(5)
    ]
    assert clean.count() == 95
    assert clean_mb.select("sid").distinct().count() == 95
    assert jobs <= 30, jobs
