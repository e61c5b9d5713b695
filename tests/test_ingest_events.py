"""The composed stream's event log (streaming/ingest_pipeline.py) on
hand-built frames, no stream: one batch's ``(vec_id, live)`` events
from the scoped prior state rows and the batch's own state rows
(``supersede_events``), liveness by newest ``(batch_id, live)`` event
(``_dead_vectors``), and the loud rejection of an ``out_dir`` in the
older two-tree layout.
"""

from __future__ import annotations

import pytest

from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    _dead_vectors,
    load_pipeline_ann_state,
    streaming_ingest_etl,
    supersede_events,
)

PRIOR = "doc_id long, content_hash string, vec_ids array<long>, batch_id long"
FRESH = "doc_id long, content_hash string, vec_ids array<long>"


def _events(spark, prior, fresh) -> set[tuple[int, bool]]:
    ev = supersede_events(
        spark.createDataFrame(prior, PRIOR), spark.createDataFrame(fresh, FRESH)
    )
    rows = [(r.vec_id, r.live) for r in ev.collect()]
    assert len(rows) == len(set(rows))
    return set(rows)


def test_changed_doc_stales_its_latest_version(spark):
    # A (vecs 1, 2) -> B (vecs 2, 3): 1 stales, the regenerated 2 is
    # re-added live, the brand-new 3 has no history and no event
    got = _events(spark, [(1, "a", [1, 2], 0)], [(1, "b", [2, 3])])
    assert got == {(1, False), (2, True)}


def test_revert_revives(spark):
    # A (1, 2) at batch 0, B (3) at batch 1, A again: B's vecs stale,
    # A's vecs from the older version revive
    prior = [(1, "a", [1, 2], 0), (1, "b", [3], 1)]
    got = _events(spark, prior, [(1, "a", [1, 2])])
    assert got == {(3, False), (1, True), (2, True)}


def test_oscillation_revives_from_two_versions_back(spark):
    # A -> B -> A -> B: the last flip's B vecs were last seen two
    # versions back; only the latest version (A) stales
    prior = [(1, "a", [1], 0), (1, "b", [2], 1), (1, "a", [1], 2)]
    got = _events(spark, prior, [(1, "b", [2])])
    assert got == {(1, False), (2, True)}


def test_flagged_doc_stales_its_latest_version(spark):
    # a flagged doc writes an empty manifest: nothing it had serves;
    # older versions already carry their own stale events
    prior = [(1, "a", [1], 0), (1, "b", [2, 3], 1)]
    got = _events(spark, prior, [(1, "c", [])])
    assert got == {(2, False), (3, False)}


def test_skipped_refeed_yields_no_rows(spark):
    # doc 1 was skipped (no state row this batch); only doc 2, whose
    # prior state is scoped in beside it, produces events
    prior = [(1, "a", [1], 0), (2, "x", [7], 0)]
    assert _events(spark, prior, [(2, "y", [8])]) == {(7, False)}
    assert _events(spark, prior, [(3, "new", [9])]) == set()


def test_dead_vectors_rank_by_batch_then_live(spark):
    events = spark.createDataFrame(
        [
            (1, 0, False),  # stale only -> dead
            (2, 3, False), (2, 3, True),  # equal-batch pair -> live
            (3, 1, False), (3, 2, True),  # revived later -> live
            (4, 1, True), (4, 2, False),  # staled later -> dead
            (5, 0, True),  # live only -> live
        ],
        "vec_id long, batch_id long, live boolean",
    )
    assert {r.vec_id for r in _dead_vectors(events).collect()} == {1, 4}


@pytest.mark.parametrize("tree", ["stale", "revive", "stale_versions", "revive_versions"])
def test_two_tree_layout_rejected_without_a_job(spark, tmp_path, tree):
    out = tmp_path / "out"
    (out / tree / "batch_id=0").mkdir(parents=True)
    sc = spark.sparkContext
    sc.setJobGroup("layout-check", "two-tree layout check")
    try:
        with pytest.raises(ValueError, match="two-tree event layout"):
            streaming_ingest_etl(
                spark, str(tmp_path / "src"), str(tmp_path / "corpus"),
                str(tmp_path / "lsh"), str(tmp_path / "ivf"), str(out),
                str(tmp_path / "ckpt"),
            )
        with pytest.raises(ValueError, match=tree):
            load_pipeline_ann_state(spark, str(out), str(tmp_path / "ivf"), 10**9)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("layout-check")) == []
    assert not spark.streams.active
