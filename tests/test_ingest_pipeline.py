"""The composed streaming flagship (streaming/ingest_pipeline.py —
VERDICT r9 next-round #4): crawl -> skip-unchanged -> dedup probe ->
chunk -> embed -> IVF assignment in ONE foreachBatch pipeline. Pinned:
(a) the streamed run equals the one-pass batch twin stage for stage,
(b) its ANN delta tree is directly consumable by the ann_stream wing,
(c) restart on the same checkpoint resumes, skips unchanged re-sends,
and reprocesses changed docs.
"""

from __future__ import annotations

import pytest
import pandas as pd
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.similarity import (
    quantize_and_assign,
    refresh_centroids,
    write_ivf_index,
)
from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
    load_stream_ann_state,
)
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    batch_ingest_etl,
    embedded_chunks,
    streaming_ingest_etl,
)

SOURCE = "/root/testdata/sf0.001/documents.parquet"


def _fixture(spark, tmp_path):
    """Corpus docs (90%) own the stored LSH index AND the stored IVF
    base (their chunks, hash-embedded); the other 10% arrive as the
    stream."""
    docs = spark.read.parquet(SOURCE).select("doc_id", "text", "source")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)

    corpus_path = str(tmp_path / "corpus")
    lsh_path = str(tmp_path / "lsh_index")
    ivf_path = str(tmp_path / "ivf_index")
    corpus.write.parquet(corpus_path)
    D.write_lsh_index(D.build_lsh_index(corpus.select("doc_id", "text")), lsh_path)

    corpus_chunks = embedded_chunks(corpus).select("vec_id", "emb")
    c_ids, c_mat = refresh_centroids(corpus_chunks, sample_mod=31)
    write_ivf_index(
        spark,
        quantize_and_assign(
            corpus_chunks, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"
        ),
        c_ids,
        c_mat,
        ivf_path,
    )
    return incoming, corpus_path, lsh_path, ivf_path


def _write_source(incoming_pdf: pd.DataFrame, path: str) -> None:
    incoming_pdf.to_parquet(path, index=False)


def _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw):
    q = streaming_ingest_etl(
        spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw
    )
    q.processAllAvailable()
    q.stop()


def _ann_deltas(spark, out):
    """Union the per-batch vector trees (each its own list_id-partitioned
    datasource, like load_ivf_index_with_deltas does for consumers)."""
    import glob

    df = None
    for p in sorted(glob.glob(f"{out}/ann/delta/batch_id=*/vectors")):
        part = spark.read.parquet(p)
        df = part if df is None else df.unionByName(part)
    return df


def _outputs(spark, out):
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assigned = {
        (r.vec_id, int(r.list_id))
        for r in _ann_deltas(spark, out).select("vec_id", "list_id").collect()
    }
    return flagged, clean, assigned


def test_streaming_composed_etl_matches_batch_twin(spark, tmp_path):
    """Stage-for-stage parity of the stream vs the one-pass twin, in
    the CROSS-CORPUS scope (update_index=False): each batch probes the
    stored corpus only, so the union over micro-batches must equal one
    batch over the whole input exactly. The intra-stream scope (the
    r11 default) has its own pins in test_ingest_pipeline_r11.py —
    there the stream's sequential pair order and the twin's
    conservative intra_batch chains are equal only pairwise."""
    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp_path)
    src = str(tmp_path / "incoming.parquet")
    _write_source(incoming.orderBy("doc_id").toPandas(), src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(
        spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
        page_size=15, pages_per_batch=1, update_index=False,
    )
    s_flagged, s_clean, s_assigned = _outputs(spark, out)

    b_flagged_df, b_clean_df, b_chunks_df, b_assigned_df = batch_ingest_etl(
        spark, incoming, corpus_path, lsh_path, ivf_path
    )
    b_flagged = {(r.batch_id, r.corpus_id) for r in b_flagged_df.collect()}
    b_clean = {r.doc_id for r in b_clean_df.collect()}
    b_assigned = {
        (r.vec_id, int(r.list_id))
        for r in b_assigned_df.select("vec_id", "list_id").collect()
    }
    assert s_flagged == b_flagged
    assert s_clean == b_clean
    assert s_assigned == b_assigned and s_assigned
    # the stream actually spanned multiple micro-batches
    n_batches = (
        spark.read.parquet(f"{out}/clean").select("batch_id").distinct().count()
    )
    assert n_batches >= 2

    # (b) wing interop: the pipeline's ann tree IS an ann_stream state —
    # the stored base plus every pipeline delta, probe-ready
    index, _, _ = load_stream_ann_state(spark, f"{out}/ann", ivf_path, 10**9)
    n_base = spark.read.parquet(f"{ivf_path}/vectors").count()
    assert index.count() == n_base + len(s_assigned)

    # every clean doc's chunks are in the assigned set exactly once
    want_chunks = embedded_chunks(
        incoming.join(b_clean_df.select("doc_id"), "doc_id", "left_semi")
    ).count()
    assert len(s_assigned) == want_chunks

    # the chunks linkage table traces every stored vector back to its
    # source (doc_id, chunk_index) — stream == batch twin
    s_chunks = {
        (r.vec_id, r.chunk_id, r.doc_id, r.chunk_index)
        for r in spark.read.parquet(f"{out}/chunks")
        .select("vec_id", "chunk_id", "doc_id", "chunk_index")
        .collect()
    }
    b_chunks = {
        (r.vec_id, r.chunk_id, r.doc_id, r.chunk_index)
        for r in b_chunks_df.collect()
    }
    assert s_chunks == b_chunks
    assert {v for v, *_ in s_chunks} == {v for v, _ in s_assigned}


def test_streaming_composed_etl_restart_and_skip(spark, tmp_path):
    """Source grows and the stream restarts on the same checkpoint:
    an unchanged re-sent doc is SKIPPED (no duplicate chunks/vectors),
    a changed doc (same id, new text) is reprocessed, a new doc flows
    through — the reference's resume-and-cache-hit contract
    (README.md:458-466, manifest hit :664) at batch granularity."""
    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp_path)
    inc = incoming.orderBy("doc_id").toPandas()
    src = str(tmp_path / "incoming.parquet")
    _write_source(inc, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=15, pages_per_batch=1)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    _, clean1, assigned1 = _outputs(spark, out)

    # grow the source: re-send one processed doc unchanged, re-send one
    # with NEW text, add one brand-new doc (picked from the CLEAN set —
    # a flagged doc never reached the state the skip stage consults)
    resend_id, changed_id = sorted(clean1)[:2]
    resend_text = str(inc.loc[inc.doc_id == resend_id, "text"].iloc[0])
    extra = pd.DataFrame(
        {
            "doc_id": [resend_id, changed_id, 999_999],
            "text": [
                resend_text,
                "entirely rewritten body with different every single word "
                "on an unrelated theme of glacier cartography",
                "a brand new document about midnight radio astronomy and "
                "the calibration of small aperture arrays",
            ],
            "source": ["resend", "changed", "new"],
        }
    )
    _write_source(pd.concat([inc, extra], ignore_index=True), src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    _, clean2, assigned2 = _outputs(spark, out)

    first_batches = {
        r.batch_id
        for r in spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == resend_id)
        .select("batch_id")
        .collect()
    }
    # unchanged re-send: processed once, skipped on resume
    assert len(first_batches) == 1
    # changed doc: reprocessed (appears in a post-restart batch too)
    changed_batches = {
        r.batch_id
        for r in spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == changed_id)
        .select("batch_id")
        .collect()
    }
    assert len(changed_batches) == 2
    # new doc flowed through to the index
    assert 999_999 in clean2
    new_vecs = embedded_chunks(
        spark.createDataFrame(extra.iloc[[2]])
    ).select("vec_id").collect()
    assert {r.vec_id for r in new_vecs} <= {v for v, _ in assigned2}
    # the unchanged re-send added NO duplicate vectors: its chunk ids
    # appear exactly once across the delta tree
    resend_vec = {
        r.vec_id
        for r in embedded_chunks(
            incoming.filter(F.col("doc_id") == resend_id)
        ).select("vec_id").collect()
    }
    per_vec = (
        _ann_deltas(spark, out)
        .filter(F.col("vec_id").isin(list(resend_vec)))
        .groupBy("vec_id")
        .count()
        .collect()
    )
    assert per_vec and all(r["count"] == 1 for r in per_vec)

@pytest.mark.slow
def test_streaming_composed_etl_state_compaction(spark, tmp_path):
    """compact_state_every folds the skip manifest into state_versions
    behind a watermark: outputs are byte-identical to the uncompacted
    twin, the skip contract survives a restart READING FROM THE FOLDED
    state (the re-sent doc's batch dirs were pruned), and the tail the
    per-batch read enumerates is bounded by the watermark."""
    from notion_vector_store_etl_pipeline_spark.operators.statefs import state_fs
    from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
        read_ingest_state,
    )
    from notion_vector_store_etl_pipeline_spark.streaming.state import (
        read_compaction_manifest,
    )

    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp_path)
    inc = incoming.orderBy("doc_id").toPandas()
    src = str(tmp_path / "incoming.parquet")
    _write_source(inc, src)
    kw = dict(page_size=15, pages_per_batch=1)

    out_c, ckpt_c = str(tmp_path / "out_c"), str(tmp_path / "ckpt_c")
    out_p, ckpt_p = str(tmp_path / "out_p"), str(tmp_path / "ckpt_p")
    _run(
        spark, src, corpus_path, lsh_path, ivf_path, out_c, ckpt_c,
        compact_state_every=2, prune_state=True, **kw,
    )
    _run(spark, src, corpus_path, lsh_path, ivf_path, out_p, ckpt_p, **kw)
    assert _outputs(spark, out_c) == _outputs(spark, out_p)

    man = read_compaction_manifest(f"{out_c}/state", spark)
    assert man and man["version"] >= 1 and man["through_batch"] >= 1
    # folded batch dirs were pruned; the folded rows are still visible
    fs = state_fs(spark, out_c)
    for b in range(0, man["through_batch"] + 1):
        assert not fs.is_dir(f"{out_c}/state/batch_id={b}")
    view = read_ingest_state(spark, out_c, before_batch=10**9)
    n_docs = spark.read.parquet(src).count()
    assert view is not None and view.count() == n_docs

    # restart with a re-sent (unchanged) doc whose state lives ONLY in
    # the folded version: still skipped — no duplicate clean row
    resend = inc.iloc[[0]]
    _write_source(pd.concat([inc, resend], ignore_index=True), src)
    _run(
        spark, src, corpus_path, lsh_path, ivf_path, out_c, ckpt_c,
        compact_state_every=2, prune_state=True, **kw,
    )
    resend_batches = (
        spark.read.parquet(f"{out_c}/clean")
        .filter(F.col("doc_id") == int(resend.doc_id.iloc[0]))
        .select("batch_id")
        .distinct()
        .count()
    )
    assert resend_batches <= 1


@pytest.mark.slow
def test_changed_doc_old_vectors_go_stale(spark, tmp_path):
    """r10 review finding: re-ingesting a changed document must retire
    its previous version's vectors from the SERVED ANN view (the
    reference's stale-vector deletion) — the old vec_ids land in the
    stale delete set and load_pipeline_ann_state subtracts them, while
    the new version's vectors and every unrelated doc's vectors remain."""
    from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
        load_pipeline_ann_state,
        read_events,
    )

    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp_path)
    inc = incoming.orderBy("doc_id").toPandas()
    src = str(tmp_path / "incoming.parquet")
    _write_source(inc, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=15, pages_per_batch=1)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    _, clean1, _ = _outputs(spark, out)

    changed_id = sorted(clean1)[0]
    old_vecs = {
        r.vec_id
        for r in spark.read.parquet(f"{out}/chunks")
        .filter(F.col("doc_id") == changed_id)
        .select("vec_id")
        .collect()
    }
    assert old_vecs

    extra = pd.DataFrame(
        {
            "doc_id": [changed_id],
            "text": [
                "completely rewritten second edition concerning tidal "
                "resonance in narrow fjords and the instrumentation thereof"
            ],
            "source": ["changed"],
        }
    )
    _write_source(pd.concat([inc, extra], ignore_index=True), src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    events = read_events(spark, out, 10**9)
    stale = {r.vec_id for r in events.filter(~F.col("live")).collect()}
    assert old_vecs <= stale, "old version's vectors not in the delete set"

    index, _, _ = load_pipeline_ann_state(spark, out, ivf_path, 10**9)
    served = {r.vec_id for r in index.select("vec_id").collect()}
    assert not (old_vecs & served), "superseded vectors still served"
    new_vecs = {
        r.vec_id
        for r in embedded_chunks(spark.createDataFrame(extra)).select("vec_id").collect()
    }
    assert new_vecs <= served, "new version's vectors missing from the view"
    # an unrelated clean doc's vectors are untouched
    other_id = sorted(clean1)[1]
    other_vecs = {
        r.vec_id
        for r in spark.read.parquet(f"{out}/chunks")
        .filter(F.col("doc_id") == other_id)
        .select("vec_id")
        .collect()
    }
    assert other_vecs and other_vecs <= served


class _StageJobs(list):
    """A stage profile (``ingest_pipeline._PROFILE``) that also counts
    the Spark jobs of each stage: the stream runs its jobs in the
    query's run-id job group, and a stage owns the group's jobs since
    the previous stage ended."""

    def __init__(self, spark):
        super().__init__()
        self.spark = spark
        self.seen: set[int] = set()
        self.jobs: dict[tuple[int, str], int] = {}

    def append(self, item) -> None:
        super().append(item)
        batch, stage, _ = item
        (query,) = self.spark.streams.active
        group = str(query.runId)
        new = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.jobs[(batch, stage)] = len(new - self.seen)
        self.seen |= new


#: per-stage job ceilings of the composed stream's first batch
BATCH0_JOB_BUDGET = {
    "skip": 0,
    "kernel:probe": 10,
    "kernel:clean_pin": 1,
    "write_state": 2,
    "write_ann": 1,
    "events": 0,
}
#: ... and of its second, which updates batch-0 docs and re-feeds one:
#: the skip reads the state tail (a schema job), broadcasts the batch's
#: doc ids and pins the scoped prior state and the todo docs; the
#: events are one write over those pins
BATCH1_JOB_BUDGET = {
    "skip": 4,
    "events": 1,
}


def test_composed_stream_batch0_job_budget(spark, tmp_path):
    """The first micro-batch (no prior state: no skip or event work) is
    bound by its job count, not its 50 docs. The probe runs in four
    page materializations, nothing is pinned between the probe and the
    chunk stage, the state and ANN writes aggregate and sort their
    one-partition inputs in place, and no (empty) event frames are
    written: each stage stays within its budget. The second batch
    updates three batch-0 docs and re-feeds one verbatim: its skip pins
    the prior state scoped to the batch once and anti-joins it in
    place, and its events are one tagged frame derived from that pin."""
    from notion_vector_store_etl_pipeline_spark.streaming import ingest_pipeline as IP

    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp_path)
    inc = incoming.orderBy("doc_id").toPandas()
    second = inc.iloc[:4].copy()
    second.iloc[:3, second.columns.get_loc("text")] = (
        "a revised edition on the hydraulics of canal boat lifts, take "
        + pd.Series(range(3), index=second.index[:3]).astype(str)
    )
    src = str(tmp_path / "incoming.parquet")
    _write_source(pd.concat([inc, second], ignore_index=True), src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    profile = IP._PROFILE = _StageJobs(spark)
    try:
        _run(
            spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
            page_size=len(inc), pages_per_batch=1,
        )
    finally:
        IP.disable_stage_profile()
    for b, budget in ((0, BATCH0_JOB_BUDGET), (1, BATCH1_JOB_BUDGET)):
        jobs = {stage: n for (batch, stage), n in profile.jobs.items() if batch == b}
        assert set(budget) <= set(jobs), (b, jobs)
        over = {s: jobs[s] for s, cap in budget.items() if jobs[s] > cap}
        assert not over, (b, jobs)
    assert spark.read.parquet(f"{out}/clean").count() > 0
    # batch 1 skipped the verbatim re-feed and superseded the updates
    state1 = spark.read.parquet(f"{out}/state/batch_id=1")
    assert {r.doc_id for r in state1.collect()} == set(second.doc_id.iloc[:3])
    assert not spark.read.parquet(f"{out}/events/batch_id=1").isEmpty()
