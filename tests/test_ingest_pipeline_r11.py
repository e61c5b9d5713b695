"""Round-11 lifecycle pins for the composed ingest flagship
(streaming/ingest_pipeline.py):

- INTRA-STREAM dedup (VERDICT r10 #1): a near-dup pair split across
  two micro-batches flags; the batch twin composes the same semantics
  via ``intra_batch=True``; dedup survives a restart AND a
  fold-and-prune of the earlier doc's delta/clean dirs.
- The A->B->A revert (ADVICE r10): the skip stage compares the doc's
  LATEST state row, so a revert is reprocessed; its re-added vec_ids'
  live events outrank the stale events B's supersession wrote, and
  the served ANN view returns version A, not B.
- Physical reclamation (VERDICT r10 #2): compact_pipeline_ann_state
  folds the ann tree with the dead set excluded and duplicate revived
  copies collapsed, retires consumed events behind ``stale_through``,
  and the served view is identical before/after (and after a replayed
  fold).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    read_compaction_manifest,
)
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    batch_ingest_etl,
    compact_pipeline_ann_state,
    embedded_chunks,
    load_pipeline_ann_state,
    read_events,
)
from tests.test_ingest_pipeline import _fixture, _run, _write_source

_P_BASE = (
    "solar kilns dry timber with surprising gentleness because the "
    "circulating air never exceeds the temperature a resin pocket "
    "tolerates and the operator can therefore season dense hardwood "
    "slabs for instruments without the checking that ruins conventional "
    "charges of lumber in continuous industrial dryers"
)


def _planted(word: str) -> str:
    """Near-dup variants of one synthetic text: swap a single word, so
    word-shingle jaccard stays far above the 0.2 threshold while the
    sha2 content hashes differ."""
    return _P_BASE.replace("gentleness", word)


def _served(spark, out, ivf_path):
    index, _, _ = load_pipeline_ann_state(spark, out, ivf_path, 10**9)
    return {(r.vec_id, int(r.list_id)) for r in index.select("vec_id", "list_id").collect()}


def _doc_vecs(spark, text: str, source: str, doc_id: int = 1) -> set[int]:
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [doc_id], "text": [text], "source": [source]})
    )
    return {r.vec_id for r in embedded_chunks(df).select("vec_id").collect()}


@pytest.fixture(scope="module")
def pipeline_fixture(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("r11fix")
    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp)
    inc = incoming.orderBy("doc_id").limit(8).toPandas()
    return inc, corpus_path, lsh_path, ivf_path


@pytest.mark.slow
def test_cross_batch_neardup_flagged_and_twin_matches(
    spark, tmp_path, pipeline_fixture
):
    """P1 lands in the first micro-batch, its near-dup P2 in the last:
    the pair MUST flag (the r10 scope let it sail through), P2 must not
    reach the clean set or the index, and the one-pass twin with
    intra_batch=True flags the same pair. A near-dup P3 arriving after
    a RESTART still flags against P1 (the index deltas persist)."""
    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    p1 = pd.DataFrame(
        {"doc_id": [-1], "text": [_planted("gentleness")], "source": ["plant1"]}
    )
    p2 = pd.DataFrame(
        {"doc_id": [10**6], "text": [_planted("tenderness")], "source": ["plant2"]}
    )
    feed = pd.concat([p1, inc, p2], ignore_index=True)
    src = str(tmp_path / "incoming.parquet")
    _write_source(feed, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=4, pages_per_batch=1)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    assert (10**6, -1) in flagged, "cross-batch near-dup pair not flagged"
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert -1 in clean and 10**6 not in clean
    # the flagged doc contributed nothing to the index
    p2_vecs = _doc_vecs(spark, _planted("tenderness"), "plant2", 10**6)
    assert not (p2_vecs & {v for v, _ in _served(spark, out, ivf_path)})
    # the PAIR really spanned micro-batches: P1 cleaned in batch 0, P2
    # FLAGGED in a later batch (without pinning P2's ingest_batch a
    # feed tweak could land both in batch 0 and this test would
    # silently duplicate the same-batch pin below — r11 test review)
    p1_b = (
        spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == -1)
        .select("batch_id")
        .head()[0]
    )
    p2_flag_b = (
        spark.read.parquet(f"{out}/flagged")
        .filter(F.col("batch_id") == 10**6)
        .select("ingest_batch")
        .head()[0]
    )
    assert p1_b == 0 and int(p2_flag_b) > 0

    # the one-pass twin composes the same semantics
    b_flagged_df, b_clean_df, _, _ = batch_ingest_etl(
        spark,
        spark.createDataFrame(feed),
        corpus_path,
        lsh_path,
        ivf_path,
        intra_batch=True,
    )
    b_flagged = {(r.batch_id, r.corpus_id) for r in b_flagged_df.collect()}
    assert (10**6, -1) in b_flagged
    assert 10**6 not in {r.doc_id for r in b_clean_df.collect()}

    # restart: a third variant still flags against the stored deltas
    p3 = pd.DataFrame(
        {"doc_id": [10**6 + 1], "text": [_planted("smoothness")], "source": ["plant3"]}
    )
    _write_source(pd.concat([feed, p3], ignore_index=True), src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    flagged2 = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    assert (10**6 + 1, -1) in flagged2


def test_same_batch_neardup_also_flagged(spark, tmp_path, pipeline_fixture):
    """r11 review: intra-stream dedup must not depend on pagination —
    the SAME pair arriving in ONE micro-batch flags too (intra_batch
    rides update_index), first-wins by id."""
    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    pair = pd.DataFrame(
        {
            "doc_id": [10**6, 10**6 + 1],
            "text": [_planted("gentleness"), _planted("tenderness")],
            "source": ["plant1", "plant2"],
        }
    )
    feed = pd.concat([inc, pair], ignore_index=True)  # pair lands in the tail page
    src = str(tmp_path / "incoming.parquet")
    _write_source(feed, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
         page_size=len(feed), pages_per_batch=1)
    n_batches = (
        spark.read.parquet(f"{out}/clean").select("batch_id").distinct().count()
    )
    assert n_batches == 1, "fixture must land the pair in one micro-batch"
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    assert (10**6 + 1, 10**6) in flagged
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert 10**6 in clean and 10**6 + 1 not in clean


def test_vec_ids_are_per_document(spark):
    """r11 review: two docs with IDENTICAL (source, text) must not
    share vec_ids — shared ids would let one doc's update stale (and
    physically reclaim) the other's still-live vectors."""
    twins = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": [_P_BASE, _P_BASE], "source": ["s", "s"]}
        )
    )
    per_doc = {
        r.doc_id: r.vecs
        for r in embedded_chunks(twins)
        .groupBy("doc_id")
        .agg(F.collect_set("vec_id").alias("vecs"))
        .collect()
    }
    assert per_doc[1] and per_doc[2]
    assert not (set(per_doc[1]) & set(per_doc[2]))


@pytest.mark.slow
def test_cross_batch_neardup_survives_fold_and_prune(
    spark, tmp_path, pipeline_fixture
):
    """The dedup state the probe unions is fold-safe: with
    compact_dedup_every pruning the folded delta/clean dirs, a late
    near-dup still flags against a doc whose per-batch artifacts no
    longer exist (they live in the compacted index/corpus versions)."""
    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    p1 = pd.DataFrame(
        {"doc_id": [-1], "text": [_planted("gentleness")], "source": ["plant1"]}
    )
    p2 = pd.DataFrame(
        {"doc_id": [10**6], "text": [_planted("tenderness")], "source": ["plant2"]}
    )
    feed = pd.concat([p1, inc, p2], ignore_index=True)
    src = str(tmp_path / "incoming.parquet")
    _write_source(feed, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(
        spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
        page_size=3, pages_per_batch=1,
        compact_dedup_every=2, compact_dedup_prune=True,
    )
    man = read_compaction_manifest(out, spark)
    assert man is not None and man["version"] >= 1, "no dedup fold ran"
    import os

    assert not os.path.isdir(f"{out}/index_delta/batch_id=0"), "fold did not prune"
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    assert (10**6, -1) in flagged
    # the flag really crossed the fold: P2 was processed in a batch
    # ABOVE the watermark, so the probe found P1 only through the
    # compacted index version + folded corpus (its batch dirs are gone)
    p2_b = (
        spark.read.parquet(f"{out}/flagged")
        .filter(F.col("batch_id") == 10**6)
        .select("ingest_batch")
        .head()[0]
    )
    assert int(p2_b) > man["through_batch"] >= 0


def _revert_lifecycle(spark, tmp_path, pipeline_fixture):
    """Shared A->B->A driver: returns (out, ckpt, ivf_path, va, vb,
    row) after three runs — original, rewrite, exact revert."""
    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    src = str(tmp_path / "incoming.parquet")
    _write_source(inc, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=4, pages_per_batch=1)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    clean1 = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    x = sorted(clean1)[0]
    row = inc.loc[inc.doc_id == x].iloc[0]
    va = _doc_vecs(spark, str(row.text), str(row.source), int(x))
    text_b = (
        "a wholly rewritten second edition on the acoustics of shipping "
        "containers repurposed as rehearsal rooms and the resonances of "
        "corrugated steel at chamber-music volumes"
    )
    vb = _doc_vecs(spark, text_b, str(row.source), int(x))
    assert va and vb and not (va & vb)

    upd = pd.DataFrame(
        {"doc_id": [x], "text": [text_b], "source": [str(row.source)]}
    )
    _write_source(pd.concat([inc, upd], ignore_index=True), src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    served_b = _served(spark, out, ivf_path)
    assert vb <= {v for v, _ in served_b} and not (va & {v for v, _ in served_b})

    # the exact revert: same doc_id, same source, same text as version A
    rev = pd.DataFrame(
        {"doc_id": [x], "text": [str(row.text)], "source": [str(row.source)]}
    )
    _write_source(pd.concat([inc, upd, rev], ignore_index=True), src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    return out, ckpt, ivf_path, va, vb, x


@pytest.mark.slow
def test_revert_doc_served_with_original_vectors(spark, tmp_path, pipeline_fixture):
    """ADVICE r10: before this round the revert matched its OLD state
    row in the additive ever-seen set, got skipped, and the doc was
    permanently served with version-B embeddings. Now the latest-row
    skip reprocesses it, the revive events outrank B-era stale events,
    and the served view returns version A exactly once per vec_id."""
    out, ckpt, ivf_path, va, vb, x = _revert_lifecycle(
        spark, tmp_path, pipeline_fixture
    )
    # reprocessed, not skipped: clean rows for x in three batches
    n_clean = (
        spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == x)
        .select("batch_id")
        .distinct()
        .count()
    )
    assert n_clean == 3
    revived = {
        r.vec_id
        for r in read_events(spark, out, 10**9).filter("live").collect()
    }
    assert va <= revived
    index, _, _ = load_pipeline_ann_state(spark, out, ivf_path, 10**9)
    served_ids = {r.vec_id for r in index.select("vec_id").collect()}
    assert va <= served_ids, "reverted version-A vectors not served"
    assert not (vb & served_ids), "superseded version-B vectors still served"
    # exactly one served ROW per revived vec_id — counted on the
    # DataFrame, not a collected set (a set would collapse the very
    # duplicate this pins: the revert physically re-added chunks whose
    # first copy is still in an earlier delta)
    assert index.count() == index.select("vec_id").distinct().count()


@pytest.mark.slow
def test_pipeline_ann_compaction_reclaims_stale(spark, tmp_path, pipeline_fixture):
    """VERDICT r10 #2, pinned with TWO folds so the watermark does
    real work (a single fold through the final batch would leave a
    trivially-empty tail — r11 test review). Fold 1 stops BEFORE the
    revert batch: only the update-era events are consumed, so version
    A's vectors (staled, not yet revived inside the window) are
    physically reclaimed from v1 while version B's (staled only in the
    unconsumed tail) remain physical and are subtracted at serve time
    — the tail above the watermark is asserted NON-empty, proving the
    retirement filter keys on stale_through rather than being vacuous.
    Fold 2 consumes the revert batch: B reclaimed, A's revived copy
    kept exactly once, tail now empty. The served view is identical
    across both folds and a replayed fold is a no-op."""
    out, ckpt, ivf_path, va, vb, x = _revert_lifecycle(
        spark, tmp_path, pipeline_fixture
    )
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        latest_committed_batch,
    )

    served_before = _served(spark, out, ivf_path)
    last = latest_committed_batch(ckpt, spark)
    # the revert's reprocess batch: doc x's newest clean row
    r = (
        spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == x)
        .agg(F.max("batch_id"))
        .head()[0]
    )
    assert 1 <= r <= last

    man1 = compact_pipeline_ann_state(
        spark, out, through_batch=r - 1, base_index_path=ivf_path
    )
    assert man1["version"] == 1 and man1["stale_through"] == r - 1
    assert _served(spark, out, ivf_path) == served_before
    v1_ids = {
        row.vec_id
        for row in spark.read.parquet(f"{out}/ann/index_versions/v1/vectors")
        .select("vec_id")
        .collect()
    }
    assert not (va & v1_ids), "update-era dead vectors not reclaimed"
    assert vb <= v1_ids, "tail-staled vectors must stay physical until consumed"
    tail = read_events(spark, out, 10**9, after_batch=r - 1)
    stale_tail = tail.filter(~F.col("live"))
    revive_tail = tail.filter("live")
    tail_stale_ids = {row.vec_id for row in stale_tail.collect()}
    assert vb <= tail_stale_ids
    # va's stale event (the update batch) is BELOW the watermark and
    # must be filtered out — the direct proof the retirement filter
    # keys on stale_through
    assert not (va & tail_stale_ids)
    assert va <= {row.vec_id for row in revive_tail.collect()}

    man2 = compact_pipeline_ann_state(
        spark, out, through_batch=last, base_index_path=ivf_path
    )
    assert man2["version"] == 2 and man2["stale_through"] == last
    assert _served(spark, out, ivf_path) == served_before
    v2 = spark.read.parquet(f"{out}/ann/index_versions/v2/vectors")
    v2_ids = [row.vec_id for row in v2.select("vec_id").collect()]
    assert not (vb & set(v2_ids)), "dead vectors not reclaimed from the fold"
    assert va <= set(v2_ids)
    assert len(v2_ids) == len(set(v2_ids)), "duplicate physical copies"
    tail2 = read_events(spark, out, 10**9, after_batch=last)
    assert tail2 is None or tail2.filter(~F.col("live")).isEmpty()

    # replayed fold: idempotent no-op
    man3 = compact_pipeline_ann_state(
        spark, out, through_batch=last, base_index_path=ivf_path
    )
    assert man3 == man2
    assert _served(spark, out, ivf_path) == served_before
