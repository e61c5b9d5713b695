"""Round-11b lifecycle pins — the two residuals the r11 notes named:

- **Physical event vacuum**: stale/revive events the ann fold consumed
  (at or below ``stale_through``) are physically deleted by
  ``vacuum_consumed_events`` / ``compact_ingest_state(vacuum_events=
  True)`` — bounded event storage, served view byte-identical, replays
  idempotent.
- **Cross-fold-window retired text**: a doc updated across FOLD windows
  keeps its old text in an earlier immutable corpus version; the
  superseded sidecar (written by ``compact_stream_state``) +
  latest-wins resolution in ``_load_anchor_corpus`` give the verify
  universe exactly ONE (current) text per sid, so a new doc near-dup
  of the RETIRED text is no longer flagged — in the composed flagship
  (fold path) and in the wing (tail path).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    latest_committed_batch,
    read_compaction_manifest,
    streaming_dedup_ingest,
)
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    compact_ingest_state,
    compact_pipeline_ann_state,
    read_revived_vectors,
    read_stale_vectors,
    vacuum_consumed_events,
)
from tests.test_ingest_pipeline import _fixture, _run, _write_source
from tests.test_ingest_pipeline_r11 import (
    _planted,
    _revert_lifecycle,
    _served,
)

# a second planted family, word-shingle-disjoint from _P_BASE so its
# variants never near-dup the first family's
_P2_BASE = (
    "tidal marshes bank carbon quietly because every flood deposits a "
    "thin mineral lamina that buries the previous season's root mat "
    "faster than microbes can respire it and the accreting column "
    "simply keeps pace with sea level while upland forests must wait "
    "for centuries of undisturbed soil to match the same storage"
)


def _planted2(word: str) -> str:
    return _P2_BASE.replace("quietly", word)


@pytest.fixture(scope="module")
def pipeline_fixture(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("r11bfix")
    incoming, corpus_path, lsh_path, ivf_path = _fixture(spark, tmp)
    inc = incoming.orderBy("doc_id").limit(8).toPandas()
    return inc, corpus_path, lsh_path, ivf_path


@pytest.mark.slow
def test_vacuum_consumed_events_bounded_history(
    spark, tmp_path, pipeline_fixture
):
    """Two-phase vacuum against the A->B->A lifecycle: after ann fold 1
    (through the update era only) a state fold with vacuum_events
    excludes the consumed update-era events from the version it writes
    and prunes their tail dirs — while the revert batch's UNconsumed
    events survive in v=1 and the served view is unchanged. After ann
    fold 2 consumes the rest, the vacuum deletes the now-fully-consumed
    event versions outright (roots removed), the served view is STILL
    unchanged, and a replayed vacuum is a no-op."""
    out, ckpt, ivf_path, va, vb, x = _revert_lifecycle(
        spark, tmp_path, pipeline_fixture
    )
    served_before = _served(spark, out, ivf_path)
    last = latest_committed_batch(ckpt, spark)
    r = (
        spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == x)
        .agg(F.max("batch_id"))
        .head()[0]
    )
    # phase 1: ann fold consumes the update era; state fold vacuums
    compact_pipeline_ann_state(
        spark, out, through_batch=r - 1, base_index_path=ivf_path
    )
    man = compact_ingest_state(
        spark, out, through_batch=last, prune_state=True, vacuum_events=True
    )
    assert man["version"] == 1 and man["through_batch"] == last
    assert not os.path.isdir(f"{out}/stale/batch_id=0"), "tail not pruned"
    # the consumed update-era stale event (va) was excluded from the
    # fold; the unconsumed revert-era events (stale vb, revive va)
    # survive in v=1 — liveness above the watermark still computable
    folded_stale = {
        row.vec_id
        for row in spark.read.parquet(f"{out}/stale_versions/v=1").collect()
    }
    assert vb <= folded_stale and not (va & folded_stale)
    assert va <= {
        row.vec_id
        for row in spark.read.parquet(f"{out}/revive_versions/v=1").collect()
    }
    assert _served(spark, out, ivf_path) == served_before

    # phase 2: ann fold consumes everything; vacuum deletes the event
    # versions outright. through_batch ADVANCES over an idle window
    # (no batch dirs exist above `last`) — the exact path that used to
    # skip the vacuum behind the empty-fold early return (r11b review
    # #1: an idle feed left consumed versions lingering indefinitely)
    compact_pipeline_ann_state(
        spark, out, through_batch=last, base_index_path=ivf_path
    )
    # the ann fold vacuums its own consumed event versions (VERDICT r11
    # #6): fully-consumed version dirs are gone IMMEDIATELY after the
    # fold that made them history — no waiting for the next state fold
    assert not os.path.isdir(f"{out}/stale_versions")
    assert not os.path.isdir(f"{out}/revive_versions")
    assert _served(spark, out, ivf_path) == served_before
    compact_ingest_state(
        spark, out, through_batch=last + 3, prune_state=True, vacuum_events=True
    )
    assert not os.path.isdir(f"{out}/stale_versions")
    assert not os.path.isdir(f"{out}/revive_versions")
    assert read_stale_vectors(spark, out, 10**9) is None
    assert read_revived_vectors(spark, out, 10**9) is None
    assert _served(spark, out, ivf_path) == served_before

    # replayed vacuum: idempotent no-op on the same watermarks
    wm = vacuum_consumed_events(spark, out)
    assert wm == vacuum_consumed_events(spark, out)
    assert _served(spark, out, ivf_path) == served_before


@pytest.mark.slow
def test_vacuum_knob_wired_in_stream(spark, tmp_path, pipeline_fixture):
    """The streaming knob drives the same machinery, pinned against a
    TWIN run with the knob OFF (same feed, same cadences) so the pin is
    falsifiable: the update's stale events — consumed by a later ann
    fold, vacuumed by a later state fold — survive physically in the
    twin and are gone in the vacuumed run, while both runs serve the
    same (current) vectors. Feed shape: 8 docs (batches 0-3 at
    page_size=2), the update of doc x at batch 4, fillers through batch
    8 — the ann fold at batch 6 consumes the update era (through 5),
    the state fold at batch 8 vacuums it."""
    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    from tests.test_ingest_pipeline_r11 import _doc_vecs

    # a PLANTED doc, guaranteed clean (fixture docs can be flagged
    # against the corpus, leaving an empty vec_ids state row and a
    # vacuously-empty stale set — the twin pin below caught exactly
    # that when this test first used a fixture doc)
    x = -1
    old_text = _planted("gentleness")
    new_text = (
        "an entirely new body for this document after its update with "
        "no overlap at all against the original phrasing"
    )
    va = _doc_vecs(spark, old_text, "px", x)
    vb = _doc_vecs(spark, new_text, "px", x)
    assert va and vb and not (va & vb)
    fillers = [
        "basalt columns cool from the top down which is why their "
        "hexagons are cleanest at the old flow surface",
        "a harpsichord plucks its strings so dynamics come from "
        "registration not finger pressure",
        "sourdough cultures drift toward the ambient microbes of "
        "whatever kitchen hosts them for a season",
        "the antikythera mechanism encoded the metonic cycle in a "
        "gear train of astonishing compactness",
        "peat bogs preserve tannin-soaked oak so completely that "
        "bog wood turns lathe tools after four thousand years",
        "semaphore lines once relayed a message across france in "
        "under an hour weather permitting",
        "vaccinium shrubs thrive on the acid soils that defeat "
        "almost every orchard species",
        "a foucault pendulum needs nothing but latitude to tell "
        "you the length of its day",
    ]
    planted = pd.DataFrame({"doc_id": [x], "text": [old_text], "source": ["px"]})
    upd = pd.DataFrame({"doc_id": [x], "text": [new_text], "source": ["px"]})
    fill = pd.DataFrame(
        {
            "doc_id": [800 + i for i in range(len(fillers))],
            "text": fillers,
            "source": [f"f{i}" for i in range(len(fillers))],
        }
    )
    feed = pd.concat(
        [planted, inc.iloc[:7], upd, fill], ignore_index=True
    )  # rows 1-8 -> batches 0-3; upd row 9 -> batch 4; fillers -> 5-8
    src = str(tmp_path / "incoming.parquet")
    _write_source(feed, src)

    def run(tag: str, vacuum: bool) -> str:
        out, ckpt = str(tmp_path / f"out{tag}"), str(tmp_path / f"ckpt{tag}")
        _run(
            spark, src, corpus_path, lsh_path, ivf_path, out, ckpt,
            page_size=2, pages_per_batch=1,
            compact_state_every=2, prune_state=True, vacuum_events=vacuum,
            compact_ann_every=2,
        )
        return out

    out_v = run("v", True)
    out_t = run("t", False)
    ann_man = read_compaction_manifest(f"{out_v}/ann", spark)
    upd_batch = (
        spark.read.parquet(f"{out_v}/clean")
        .filter(F.col("doc_id") == x)
        .agg(F.max("batch_id"))
        .head()[0]
    )
    assert ann_man["stale_through"] >= upd_batch, (
        "fixture must consume the update era in-stream"
    )
    # twin (knob off): the consumed stale events survive physically
    twin_stale = read_stale_vectors(spark, out_t, 10**9)
    assert twin_stale is not None and va <= {
        r.vec_id for r in twin_stale.collect()
    }
    # vacuumed run: physically gone
    surv = read_stale_vectors(spark, out_v, 10**9)
    surv_ids = set() if surv is None else {r.vec_id for r in surv.collect()}
    assert not (va & surv_ids), "consumed stale events not vacuumed"
    # both runs serve the same current vectors
    for out in (out_v, out_t):
        served = {v for v, _ in _served(spark, out, ivf_path)}
        assert vb <= served and not (va & served)


@pytest.mark.slow
def test_flagship_fold_window_update_not_flagged_against_retired_text(
    spark, tmp_path, pipeline_fixture
):
    """The closed residual, fold path: doc -1's text A is folded into
    corpus version v=1, its rewrite B into v=2 (both physically
    present). A new doc Y near-dup of RETIRED A must NOT flag; a new
    doc Z near-dup of CURRENT B must. Before the superseded sidecar the
    verify universe carried both texts and Y flagged against A."""
    inc, corpus_path, lsh_path, ivf_path = pipeline_fixture
    text_a, text_b = _planted("gentleness"), _planted2("quietly")
    p1 = pd.DataFrame({"doc_id": [-1], "text": [text_a], "source": ["p1"]})
    feed = pd.concat([p1, inc], ignore_index=True)  # 9 rows -> batches 0..2
    src = str(tmp_path / "incoming.parquet")
    _write_source(feed, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    kw = dict(page_size=3, pages_per_batch=1, compact_dedup_every=2)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)

    # run 2: the rewrite + filler to push a second fold past it
    fill = pd.DataFrame(
        {
            "doc_id": [701, 702, 703],
            "text": [
                "granite curbstones outlast a dozen asphalt repavings in "
                "any climate that freezes",
                "the ferry timetable shrinks to two sailings when the "
                "strait ices over each january",
                "hand-pulled noodles owe their chew to gluten aligned by "
                "repeated folding rather than kneading",
            ],
            "source": ["f1", "f2", "f3"],
        }
    )
    upd = pd.DataFrame({"doc_id": [-1], "text": [text_b], "source": ["p1"]})
    feed2 = pd.concat([feed, upd, fill], ignore_index=True)
    _write_source(feed2, src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    man = read_compaction_manifest(out, spark)
    upd_batch = (
        spark.read.parquet(f"{out}/clean")
        .filter(F.col("doc_id") == -1)
        .agg(F.max("batch_id"))
        .head()[0]
    )
    # the rewrite must be FOLDED (not tail) or this test would only
    # exercise the tail-latest path, not the sidecar
    assert man["version"] >= 2 and man["through_batch"] >= upd_batch
    versions_with_doc = {
        int(row.v)
        for row in spark.read.parquet(f"{out}/corpus_versions")
        .filter(F.col("doc_id") == -1)
        .select("v")
        .collect()
    }
    assert len(versions_with_doc) >= 2, "old text not physically present"
    sup = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/superseded_versions").collect()
    }
    assert -1 in sup

    # run 3: Y near-dup of retired A, Z near-dup of current B
    probe = pd.DataFrame(
        {
            "doc_id": [10**6, 10**6 + 1],
            "text": [_planted("tenderness"), _planted2("silently")],
            "source": ["y", "z"],
        }
    )
    _write_source(pd.concat([feed2, probe], ignore_index=True), src)
    _run(spark, src, corpus_path, lsh_path, ivf_path, out, ckpt, **kw)
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert (10**6 + 1, -1) in flagged, "near-dup of CURRENT text must flag"
    assert 10**6 + 1 not in clean
    assert (10**6, -1) not in flagged, "flagged against RETIRED text"
    assert 10**6 in clean


def test_wing_tail_update_not_flagged_against_retired_text(spark, tmp_path):
    """The closed residual, wing tail path: doc -5 lands with text A in
    batch 0, is re-sent with text B in batch 1 (same-id exclusion
    passes it through), both rows sit in the UNfolded tail. A probe
    near-dup of retired A must not flag; one near-dup of current B
    must."""
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "a corpus document about the maintenance schedule of "
                    "narrow gauge mountain railways and their rack systems",
                    "another corpus document cataloguing the pigments "
                    "medieval illuminators ground from local minerals",
                ],
            }
        )
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    from notion_vector_store_etl_pipeline_spark.operators import dedup as D

    index_path = str(tmp_path / "lsh_index")
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    text_a, text_b = _planted("gentleness"), _planted2("quietly")
    src = str(tmp_path / "incoming.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run(rows):
        pd.DataFrame(rows).to_parquet(src, index=False)
        q = streaming_dedup_ingest(
            spark, src, corpus_path, index_path, out, ckpt,
            page_size=1, pages_per_batch=1,
        )
        q.processAllAvailable()
        q.stop()

    rows = {"doc_id": [-5], "text": [text_a]}
    run(rows)
    rows = {"doc_id": [-5, -5], "text": [text_a, text_b]}
    # the paginated source resumes at the committed offset, so only the
    # appended re-send row is consumed
    run(rows)
    clean = spark.read.parquet(f"{out}/clean")
    assert clean.filter(F.col("doc_id") == -5).count() == 2, (
        "re-send must pass through (same-id exclusion), landing twice"
    )
    rows = {
        "doc_id": [-5, -5, 10**6, 10**6 + 1],
        "text": [text_a, text_b, _planted("tenderness"), _planted2("silently")],
    }
    run(rows)
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    clean_ids = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    assert (10**6 + 1, -5) in flagged, "near-dup of CURRENT text must flag"
    assert (10**6, -5) not in flagged, "flagged against RETIRED tail text"
    assert 10**6 in clean_ids and 10**6 + 1 not in clean_ids


def test_major_fold_rewrites_corpus_rebuilds_index_and_vacuums(
    spark, tmp_path
):
    """The LSM major fold: after two minor folds put a doc's retired
    text A in v=1 and its current B in v=2 (sup sidecar resolving), a
    MAJOR fold rewrites the reader's view into a single floor version
    (latest text per doc, retired copies PHYSICALLY gone), rebuilds the
    LSH index from it (A's buckets dropped), vacuums the below-floor
    versions + sidecar, and later MINOR folds keep working across the
    floor."""
    from notion_vector_store_etl_pipeline_spark.operators import dedup as D
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        _load_anchor_corpus,
        _load_anchor_index,
        compact_stream_state,
        probe_batch,
    )

    base_docs = {
        1: "a corpus document about the maintenance schedule of narrow "
        "gauge mountain railways and their rack systems",
        2: "another corpus document cataloguing the pigments medieval "
        "illuminators ground from local minerals",
    }
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(base_docs), "text": list(base_docs.values())})
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / "lsh_index")
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    text_a, text_b = _planted("gentleness"), _planted2("quietly")
    text_e = (
        "a third unique stream document on the calibration of tide "
        "gauges against satellite altimetry records"
    )
    src = str(tmp_path / "incoming.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pd.DataFrame(
        {"doc_id": [-5, -5, -6], "text": [text_a, text_b, text_e]}
    ).to_parquet(src, index=False)
    q = streaming_dedup_ingest(
        spark, src, corpus_path, index_path, out, ckpt,
        page_size=1, pages_per_batch=1,
    )
    q.processAllAvailable()
    q.stop()

    fold = lambda through, **kw: compact_stream_state(  # noqa: E731
        spark, out, through_batch=through,
        base_index_path=index_path, base_corpus_path=corpus_path, **kw
    )
    fold(0)  # v=1: (D, A)
    man2 = fold(1)  # v=2: (D, B) + sup {D}
    assert {
        r.doc_id
        for r in spark.read.parquet(f"{out}/superseded_versions").collect()
    } == {-5}
    man3 = fold(2, major=True)  # v=3 rewrite, floor
    assert man3["version"] == 3 and man3["corpus_floor"] == 3
    assert man3["through_batch"] == 2
    # physical below-floor deletes are DEFERRED one fold cycle (ADVICE
    # r11): the floor is PUBLISHED — readers anchor on v=3 — but an
    # out-of-process reader mid-query on the previous anchor keeps its
    # files until the next fold processes the pending flag
    assert man3["pending_vacuum_floor"] == 3
    idx_vdirs = sorted(
        d for d in os.listdir(f"{out}/index_versions") if d.startswith("v")
    )
    assert idx_vdirs == ["v1", "v2", "v3"]  # grace margin intact
    vdirs = sorted(
        d for d in os.listdir(f"{out}/corpus_versions") if d.startswith("v=")
    )
    assert vdirs == ["v=1", "v=2", "v=3"]
    # the floor version itself holds the resolved content
    rows = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{out}/corpus_versions/v=3").collect()
    }
    assert rows == {**base_docs, -5: text_b, -6: text_e}
    # resolved read == physical floor content (no duplicates)
    resolved = _load_anchor_corpus(spark, man3, out)
    assert {(r.doc_id, r.text) for r in resolved.collect()} == set(rows.items())
    assert resolved.count() == 4

    # the rebuilt index dropped retired A's buckets: a near-dup of A
    # produces NO candidate pairs at all; a near-dup of B still flags
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10**6, 10**6 + 1],
                "text": [_planted("tenderness"), _planted2("silently")],
            }
        )
    )
    flagged, clean = probe_batch(
        probes, _load_anchor_corpus(spark, man3, out),
        _load_anchor_index(spark, man3),
    )
    pairs = {(r.batch_id, r.corpus_id) for r in flagged.collect()}
    assert (10**6 + 1, -5) in pairs and not any(b == 10**6 for b, _ in pairs)
    release_cache()

    # a replayed major fold is a no-op on the published manifest
    assert fold(2, major=True) == man3

    # life continues across the floor: an update of E arrives, a MINOR
    # fold versions it, the sup sidecar restarts, reads resolve
    text_e2 = (
        "the tide gauge document fully rewritten to discuss bubbler "
        "sensors and their stilling wells instead"
    )
    pd.DataFrame(
        {"doc_id": [-5, -5, -6, -6], "text": [text_a, text_b, text_e, text_e2]}
    ).to_parquet(src, index=False)
    q = streaming_dedup_ingest(
        spark, src, corpus_path, index_path, out, ckpt,
        page_size=1, pages_per_batch=1,
    )
    q.processAllAvailable()
    q.stop()
    man4 = fold(3)  # minor: v=4 (E2) + sup v=4 {E}
    assert man4["version"] == 4 and man4["corpus_floor"] == 3
    assert "pending_vacuum_floor" not in man4
    final = {
        (r.doc_id, r.text)
        for r in _load_anchor_corpus(spark, man4, out).collect()
    }
    assert final == set({**base_docs, -5: text_b, -6: text_e2}.items())

    # the NEXT fold (this one) processed the deferred vacuum: below-
    # floor index/corpus versions and the pre-floor sidecar are now
    # physically gone; retired text A is nowhere on disk
    idx_vdirs = sorted(
        d for d in os.listdir(f"{out}/index_versions") if d.startswith("v")
    )
    assert idx_vdirs == ["v3", "v4"]
    vdirs = sorted(
        d for d in os.listdir(f"{out}/corpus_versions") if d.startswith("v=")
    )
    assert vdirs == ["v=3", "v=4"]
    sup_vdirs = sorted(
        d
        for d in os.listdir(f"{out}/superseded_versions")
        if d.startswith("v=")
    )
    assert sup_vdirs == ["v=4"]
    all_texts = {
        r.text for r in spark.read.parquet(f"{out}/corpus_versions").collect()
    }
    assert text_a not in all_texts

    # a major rebuild under signature params different from the
    # manifest's record must refuse loudly — a mismatched rebuild
    # yields an index no probe signature can hit (silent dedup loss)
    with pytest.raises(ValueError, match="signature"):
        fold(4, major=True, checkable=True)


@pytest.mark.slow
def test_major_fold_stream_knob_matches_uncompacted_twin(spark, tmp_path):
    """compact_major_every wired into the wing: a stream with minor +
    major folds (incl. an update crossing them) produces byte-identical
    flagged/clean sets to the uncompacted twin, and ends with a
    published floor."""
    from notion_vector_store_etl_pipeline_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": [
                    "one corpus document about dry stone walling and the "
                    "friction that holds a wall for a century"
                ],
            }
        )
    )
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / "lsh_index")
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)

    text_a, text_b = _planted("gentleness"), _planted2("quietly")
    uniq = [
        "glass eels navigate brackish estuaries by tasting the gradient",
        "a linotype operator could set a newspaper column in minutes",
        "the qanat brought mountain water across persia underground",
        "lighthouse fresnel lenses float on baths of liquid mercury",
    ]
    # update of -5 at row 4 crosses the batch-2 minor fold; the batch-4
    # MAJOR fold rewrites it; the batch-5 probe pair exercises both
    feed = pd.DataFrame(
        {
            "doc_id": [-5, 21, 22, -5, 23, 10**6, 10**6 + 1, 24],
            "text": [text_a, uniq[0], uniq[1], text_b, uniq[2],
                     _planted("tenderness"), _planted2("silently"), uniq[3]],
        }
    )
    src = str(tmp_path / "incoming.parquet")
    feed.to_parquet(src, index=False)

    outs = {}
    for name, extra in (
        ("major", {"compact_every": 2, "compact_major_every": 2,
                   "compact_prune_deltas": True}),
        ("plain", {}),
    ):
        out, ckpt = str(tmp_path / f"out_{name}"), str(tmp_path / f"ckpt_{name}")
        q = streaming_dedup_ingest(
            spark, src, corpus_path, index_path, out, ckpt,
            page_size=1, pages_per_batch=1, **extra,
        )
        q.processAllAvailable()
        q.stop()
        outs[name] = {
            "flagged": {
                (r.batch_id, r.corpus_id)
                for r in spark.read.parquet(f"{out}/flagged")
                .select("batch_id", "corpus_id")
                .collect()
            },
            "clean": {
                (r.doc_id, r.text)
                for r in spark.read.parquet(f"{out}/clean")
                .select("doc_id", "text")
                .collect()
            },
        }
    assert outs["major"] == outs["plain"]
    assert (10**6 + 1, -5) in outs["major"]["flagged"], (
        "near-dup of the current text must flag"
    )
    assert not any(b == 10**6 for b, _ in outs["major"]["flagged"]), (
        "near-dup of the retired text must not flag"
    )
    man = read_compaction_manifest(str(tmp_path / "out_major"), spark)
    assert man["corpus_floor"] >= 1, "no major fold ran"
