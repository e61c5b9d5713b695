"""Round-12 lifecycle pins (ADVICE r11 + VERDICT r11 #6):

- a state fold whose entire event window was already consumed by the
  ann fold writes NO empty event-version dir;
- a MAJOR dedup fold self-heals pre-sidecar corpus state (cross-version
  duplicate texts with no superseded entry) by resolving per doc on
  precedence rank;
- a MAJOR rebuild on a manifest that predates the ``signature`` field is
  guarded by a bucket-reproduction probe instead of silently trusting
  the caller's params;
- a published manifest that anchors on a bucketed index table (a
  layout older builds wrote) is rejected before any index read;
- the major fold's physical below-floor vacuum is deferred one fold
  cycle (out-of-process readers keep a read margin) — the deferred-
  delete pins themselves live in test_ingest_pipeline_r11b.py's major
  test, updated for the new contract.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    _load_anchor_corpus,
    _load_anchor_index,
    anchor_manifest,
    compact_stream_state,
    latest_committed_batch,
    read_compaction_manifest,
    streaming_dedup_ingest,
)
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    compact_ingest_state,
    compact_pipeline_ann_state,
)
from notion_vector_store_etl_pipeline_spark.streaming.state import write_manifest

from tests.test_ingest_pipeline_r11 import (  # noqa: F401  (fixture deps)
    _revert_lifecycle,
    _served,
)
from tests.test_ingest_pipeline import _fixture


@pytest.fixture(scope="module")
def pipeline_fixture(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("r12fix")
    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp)
    inc = incoming.orderBy("doc_id").limit(8).toPandas()
    return inc, corpus_path, lsh_path, ivf_path


@pytest.mark.slow
def test_fully_consumed_window_writes_no_event_version(
    spark, tmp_path, pipeline_fixture
):
    """ADVICE r11 #4: when the ann fold already consumed EVERY event in
    the state fold's window, the fold used to write an empty
    ``events_versions/v=k`` dir that the vacuum deleted moments later —
    a wasted write job plus a parquet max-scan per later vacuum walk.
    Now the version write is skipped outright while the tail dirs still
    fold away and the state tree itself still versions."""
    out, ckpt, ivf_path, va, vb, x = _revert_lifecycle(
        spark, tmp_path, pipeline_fixture
    )
    served_before = _served(spark, out, ivf_path)
    last = latest_committed_batch(ckpt, spark)
    # consume EVERYTHING first
    compact_pipeline_ann_state(
        spark, out, through_batch=last, base_index_path=ivf_path
    )
    assert os.path.isdir(f"{out}/events")  # unconsumed TAIL still on disk
    man = compact_ingest_state(
        spark, out, through_batch=last, prune_state=True, vacuum_events=True
    )
    assert man["version"] == 1
    # no empty event versions were ever written; state itself versioned
    assert not os.path.isdir(f"{out}/events_versions")
    assert os.path.isdir(f"{out}/state_versions/v=1")
    # tails pruned regardless (the skip branch still folds the dirs)
    event_tail = (
        [d for d in os.listdir(f"{out}/events") if d.startswith("batch_id=")]
        if os.path.isdir(f"{out}/events")
        else []
    )
    assert event_tail == []
    assert _served(spark, out, ivf_path) == served_before


# ---------------------------------------------------------------- major

_T_BASE = (
    "canal locks meter water gentleness so carefully that a single "
    "flight can lift a loaded barge seventy feet using nothing but "
    "gravity patience and the stored rainfall of the summit pound "
    "while the keeper walks the beam arms exactly as generations did"
)


def _vtext(word: str) -> str:
    return _T_BASE.replace("gentleness", word)


def _mk_wing(spark, tmp_path, docs_feed):
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": [
                    "a corpus document cataloguing the pigments medieval "
                    "illuminators ground from local minerals and shells"
                ],
            }
        )
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / "lsh_index")
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)
    src = str(tmp_path / "incoming.parquet")
    docs_feed.to_parquet(src, index=False)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = streaming_dedup_ingest(
        spark, src, corpus_path, index_path, out, ckpt,
        page_size=1, pages_per_batch=1,
    )
    q.processAllAvailable()
    q.stop()
    return out, corpus_path, index_path


def test_major_fold_self_heals_presidecar_duplicates(spark, tmp_path):
    """ADVICE r11 #1: corpus versions written before the superseded
    sidecar existed hold cross-version duplicate texts with NO sidecar
    entry. The major fold resolves per doc by precedence rank directly,
    so the rewrite bakes ONE text (the newest version's) into the floor
    instead of both."""
    feed = pd.DataFrame(
        {
            "doc_id": [-5, -5, 7],
            "text": [
                _vtext("gentleness"),  # version A of doc -5
                _vtext("tenderness"),  # near-dup UPDATE (same id passes)
                "an unrelated third stream document about the migration "
                "timing of arctic terns across two polar summers",
            ],
        }
    )
    out, corpus_path, index_path = _mk_wing(spark, tmp_path, feed)
    fold = lambda through, **kw: compact_stream_state(  # noqa: E731
        spark, out, through_batch=through,
        base_index_path=index_path, base_corpus_path=corpus_path, **kw
    )
    fold(0)  # v=1 holds A
    fold(1)  # v=2 holds A' + sidecar {-5}
    # simulate PRE-SIDECAR state: the duplicate copies exist but no
    # sidecar entry records the supersession
    import shutil

    assert os.path.isdir(f"{out}/superseded_versions")
    shutil.rmtree(f"{out}/superseded_versions")
    man = fold(2, major=True)
    floor = man["corpus_floor"]
    rows = spark.read.parquet(f"{out}/corpus_versions/v={floor}")
    per_doc = {
        r.doc_id: r.n
        for r in rows.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert all(n == 1 for n in per_doc.values()), per_doc
    text5 = rows.filter(F.col("doc_id") == -5).head().text
    assert text5 == _vtext("tenderness"), "newest version must win"
    release_cache()


def test_presignature_manifest_major_guarded_by_probe(spark, tmp_path):
    """ADVICE r11 #3: a manifest written before the ``signature`` field
    existed used to let a major rebuild silently adopt the CALLER's
    params. Now a bucket-reproduction probe over sampled folded docs
    guards the rebuild: wrong params raise, right params pass, and
    assume_signature=True is the explicit override."""
    feed = pd.DataFrame(
        {
            "doc_id": [-5, 7],
            "text": [
                _vtext("gentleness"),
                "an unrelated stream document about the hum of high "
                "voltage lines in freezing fog and corona discharge",
            ],
        }
    )
    out, corpus_path, index_path = _mk_wing(spark, tmp_path, feed)
    fold = lambda through, **kw: compact_stream_state(  # noqa: E731
        spark, out, through_batch=through,
        base_index_path=index_path, base_corpus_path=corpus_path, **kw
    )
    man = fold(0)
    assert man["signature"] == [32, 8, False]
    # simulate a pre-upgrade manifest: drop the signature record
    legacy = {k: v for k, v in man.items() if k != "signature"}
    write_manifest(out, legacy, spark)
    assert "signature" not in read_compaction_manifest(out, spark)

    # wrong params: the probe reproduces no bucket -> loud refusal
    with pytest.raises(ValueError, match="reproduce NONE"):
        fold(1, major=True, checkable=True)
    # NB (16, 4) would NOT be flagged — same rows-per-band means its
    # bands are a prefix-subset of the recorded (32, 8) bands, so
    # probes genuinely reproduce buckets (degraded recall, not the
    # total-loss mismatch the guard exists for). A changed band WIDTH
    # is the destructive case:
    with pytest.raises(ValueError, match="reproduce NONE"):
        fold(1, major=True, num_hashes=16, bands=8)
    # right params: probe passes, rebuild proceeds, signature recorded
    man2 = fold(1, major=True)
    assert man2["corpus_floor"] == man2["version"]
    assert man2["signature"] == [32, 8, False]
    release_cache()


def test_presignature_assume_signature_override(spark, tmp_path):
    feed = pd.DataFrame(
        {
            "doc_id": [7],
            "text": [
                "a stream document on how railway fishplates creep in "
                "summer heat and the expansion joints that absorb it"
            ],
        }
    )
    out, corpus_path, index_path = _mk_wing(spark, tmp_path, feed)
    man = compact_stream_state(
        spark, out, through_batch=0,
        base_index_path=index_path, base_corpus_path=corpus_path,
    )
    legacy = {k: v for k, v in man.items() if k != "signature"}
    write_manifest(out, legacy, spark)
    # explicit opt-in skips the probe and trusts the caller
    man2 = compact_stream_state(
        spark, out, through_batch=1, major=True,
        base_index_path=index_path, base_corpus_path=corpus_path,
        assume_signature=True,
    )
    assert man2 is not None and man2["corpus_floor"] == man2["version"]
    release_cache()


def test_legacy_bucketed_table_manifest_rejected(spark, tmp_path):
    """State written by older builds may hold a published manifest that
    anchors on a bucketed index TABLE, a layout no longer read. Both
    the fold and the anchor read reject it with a ValueError naming the
    version and the table, before any index read (the plain loader
    would otherwise fail on the manifest's null ``index_path``)."""
    out = str(tmp_path / "out")
    legacy = {
        "version": 3,
        "index_path": None,
        "index_table": "lsh_cidx_v3",
        "corpus_base": str(tmp_path / "corpus"),
        "through_batch": 5,
        "corpus_floor": 0,
        "signature": [32, 8, False],
        "superseded_rows": 0,
    }
    write_manifest(out, legacy, spark)
    index_path = str(tmp_path / "lsh_index")
    with pytest.raises(ValueError, match=r"version 3 .*'lsh_cidx_v3'"):
        compact_stream_state(
            spark, out, through_batch=9,
            base_index_path=index_path, base_corpus_path=legacy["corpus_base"],
        )
    with pytest.raises(ValueError, match=r"version 3 .*'lsh_cidx_v3'"):
        anchor_manifest(
            read_compaction_manifest(out, spark), index_path, legacy["corpus_base"]
        )


@pytest.mark.slow
def test_size_triggered_major_fold(spark, tmp_path):
    """VERDICT r11 #5: the superseded sidecar grows with distinct
    updated docs between majors; a batch-count cadence cannot see a
    hot-update workload outgrowing it. auto_major_rows upgrades the
    fold once the manifest's cumulative superseded count passes the
    threshold — the sidecar is bounded by the threshold, not by luck."""
    feed = pd.DataFrame(
        {
            "doc_id": [-5, -5, 7, -5, 8],
            "text": [
                _vtext("gentleness"),
                _vtext("tenderness"),  # update 1 of -5
                "an unrelated document about the seasonal thickening of "
                "pond ice and the songs skaters hear through it",
                _vtext("patience"),  # update 2 of -5
                "another unrelated document on the smell of rain hitting "
                "hot dust and the soil bacteria that produce it",
            ],
        }
    )
    out, corpus_path, index_path = _mk_wing(spark, tmp_path, feed)
    fold = lambda through, **kw: compact_stream_state(  # noqa: E731
        spark, out, through_batch=through,
        base_index_path=index_path, base_corpus_path=corpus_path,
        auto_major_rows=1, **kw
    )
    man1 = fold(0)  # v=1: A; no supersession yet
    assert man1.get("superseded_rows", 0) == 0 and man1["corpus_floor"] == 0
    man2 = fold(1)  # v=2: A' supersedes A -> counter 1 == threshold
    assert man2["superseded_rows"] == 1 and man2["corpus_floor"] == 0
    man3 = fold(2)  # threshold reached: MINOR call auto-upgrades
    assert man3["corpus_floor"] == man3["version"], "size trigger must fire"
    assert "superseded_rows" not in man3  # major resets the counter
    man4 = fold(3)  # update 2 of -5: counter restarts from the floor
    assert man4["superseded_rows"] == 1
    man5 = fold(4)  # fires again
    assert man5["corpus_floor"] == man5["version"]
    # resolved read is one text per doc, newest update winning
    rows = {
        (r.doc_id, r.text)
        for r in _load_anchor_corpus(spark, man5, out).collect()
    }
    texts = dict(rows)
    assert texts[-5] == _vtext("patience")
    assert len(rows) == len(texts)
    release_cache()


@pytest.mark.slow
def test_oscillating_doc_revives_from_older_version(
    spark, tmp_path, pipeline_fixture
):
    """r12 stale-event slimming regression pin: the stale diff now runs
    against the doc's LATEST prior version only (hot-update event
    volume was growing with update depth), but revive detection must
    still scan ALL versions — an A->B->A->B oscillation revives B's
    vectors from TWO versions back. Latest-only revive detection would
    leave vb dead and the doc served with nothing."""
    from tests.test_ingest_pipeline import _run, _write_source
    from tests.test_ingest_pipeline_r11 import _doc_vecs

    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    src = str(tmp_path / "incoming.parquet")
    _write_source(inc, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=4, pages_per_batch=1)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    clean1 = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    x = sorted(clean1)[0]
    row = inc.loc[inc.doc_id == x].iloc[0]
    text_a, src_col = str(row.text), str(row.source)
    text_b = (
        "a second edition rewritten to discuss the hydraulics of "
        "victorian canal boat lifts and their balanced caissons"
    )
    va = _doc_vecs(spark, text_a, src_col, int(x))
    vb = _doc_vecs(spark, text_b, src_col, int(x))
    assert va and vb and not (va & vb)

    feed = inc
    for text in (text_b, text_a, text_b):  # A -> B -> A -> B
        feed = pd.concat(
            [feed, pd.DataFrame({"doc_id": [x], "text": [text], "source": [src_col]})],
            ignore_index=True,
        )
        _write_source(feed, src)
        _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    served = {v for v, _ in _served(spark, out, ivf_path)}
    assert vb <= served, "final version B must be fully served"
    assert not (va & served), "version A must be dead after the last flip"


@pytest.mark.slow
def test_skipped_refeed_does_not_mask_latest_version(
    spark, tmp_path, pipeline_fixture
):
    """r12 review catch: a SKIPPED re-feed used to write a state row
    with EMPTY vec_ids, which became the doc's latest state row — the
    next real update's latest-version stale diff then found nothing to
    stale, and the old vectors were served beside the new ones forever.
    Lifecycle: process A -> re-feed A verbatim (skip) -> update to B:
    version-A vectors must be dead, the served view must hold exactly
    version B."""
    from tests.test_ingest_pipeline import _run, _write_source
    from tests.test_ingest_pipeline_r11 import _doc_vecs

    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    src = str(tmp_path / "incoming.parquet")
    _write_source(inc, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=4, pages_per_batch=1)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    x = sorted(r.doc_id for r in spark.read.parquet(f"{out}/clean").collect())[0]
    row = inc.loc[inc.doc_id == x].iloc[0]
    text_a, src_col = str(row.text), str(row.source)
    text_b = (
        "a full rewrite about the etiquette of narrowboat mooring and "
        "the unwritten rules of the towpath water queue"
    )
    va = _doc_vecs(spark, text_a, src_col, int(x))
    vb = _doc_vecs(spark, text_b, src_col, int(x))
    assert va and vb and not (va & vb)

    # verbatim re-feed ALONE first: an all-skipped batch must write no
    # artifacts at all (an empty partitionBy ann-delta dir would break
    # later schema inference on the tree read)
    feed = pd.concat(
        [inc, pd.DataFrame({"doc_id": [x], "text": [text_a], "source": [src_col]})],
        ignore_index=True,
    )
    _write_source(feed, src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    n_clean_x = (
        spark.read.parquet(f"{out}/clean").filter(F.col("doc_id") == x).count()
    )
    assert n_clean_x == 1, "verbatim re-feed must be skipped"

    # then a MIXED batch: the same re-feed lands beside a brand-new doc,
    # so the batch is processed — the skipped doc must STILL get no
    # state row (the todo-scoped write), or its empty manifest masks
    # the real latest version
    feed = pd.concat(
        [
            feed,
            pd.DataFrame(
                {
                    "doc_id": [x, 10**7],
                    "text": [
                        text_a,
                        "an entirely fresh document about the acoustics of "
                        "empty grain silos and the birds that nest in them",
                    ],
                    "source": [src_col, "sy"],
                }
            ),
        ],
        ignore_index=True,
    )
    _write_source(feed, src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    state_rows_x = (
        spark.read.parquet(f"{out}/state").filter(F.col("doc_id") == x).count()
    )
    assert state_rows_x == 1, "skipped doc in a mixed batch must not re-row state"

    # the real update: version A must stale
    feed = pd.concat(
        [feed, pd.DataFrame({"doc_id": [x], "text": [text_b], "source": [src_col]})],
        ignore_index=True,
    )
    _write_source(feed, src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    served = {v for v, _ in _served(spark, out, ivf_path)}
    assert vb <= served, "version B must be served"
    assert not (va & served), (
        "version-A vectors survived the update: the skipped re-feed's "
        "state row masked the latest real manifest"
    )
