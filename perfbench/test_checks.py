"""Each output check accepts the right result and rejects a wrong one.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ann
import gen
from checks import (
    check_ann_recall,
    check_cold_load,
    check_rerun,
    check_stream_batch,
    expected_chunk_ids,
)


def _corpus():
    return gen.batch_corpus(seed=7, n_docs=60)


def _records(docs):
    return [{"id": c} for s, t in zip(docs.source, docs.text) for c in expected_chunk_ids(s, t)]


def _cold_summary(c):
    return {"processed": len(c.v0), "skipped": 0, "chunks": len(_records(c.v0)), "stale_vectors": 0}


def test_cold_load_accepts_the_reference_chunks():
    c = _corpus()
    assert check_cold_load(_cold_summary(c), _records(c.v0), c.v0) == []


def test_cold_load_rejects_a_lost_chunk():
    c = _corpus()
    records = _records(c.v0)[1:]
    summary = _cold_summary(c) | {"chunks": len(records)}
    assert check_cold_load(summary, records, c.v0)


def test_cold_load_rejects_a_wrong_chunk_id():
    c = _corpus()
    records = _records(c.v0)
    records[0] = {"id": "0" * 64}
    assert check_cold_load(_cold_summary(c), records, c.v0)


def test_cold_load_rejects_a_skipped_doc():
    c = _corpus()
    summary = _cold_summary(c) | {"processed": len(c.v0) - 1, "skipped": 1}
    assert check_cold_load(summary, _records(c.v0), c.v0)


def _rerun_case(c):
    changed = c.edited | c.added
    prior = {
        int(d): expected_chunk_ids(s, t) for d, s, t in zip(c.v0.doc_id, c.v0.source, c.v0.text)
    }
    stale = sum(len(prior[d]) for d in c.edited)
    summary = {"processed": len(changed), "skipped": len(c.v1) - len(changed),
               "chunks": 0, "stale_vectors": stale}
    return summary, _records(c.v1[c.v1.doc_id.isin(changed)]), prior


def test_rerun_accepts_exactly_the_edit_set():
    c = _corpus()
    summary, records, prior = _rerun_case(c)
    assert check_rerun(summary, records, prior, c.v0, c.v1, c.edited, c.added) == []


def test_rerun_rejects_reprocessing_an_unchanged_doc():
    c = _corpus()
    summary, records, prior = _rerun_case(c)
    unchanged = c.v1[~c.v1.doc_id.isin(c.edited | c.added)].head(1)
    records = records + _records(unchanged)
    summary = summary | {"processed": summary["processed"] + 1, "skipped": summary["skipped"] - 1}
    assert check_rerun(summary, records, prior, c.v0, c.v1, c.edited, c.added)


def test_rerun_rejects_a_wrong_stale_set():
    c = _corpus()
    summary, records, prior = _rerun_case(c)
    assert check_rerun(summary | {"stale_vectors": summary["stale_vectors"] + 1},
                       records, prior, c.v0, c.v1, c.edited, c.added)
    some_edited = next(iter(c.edited))
    prior = prior | {some_edited: []}
    assert check_rerun(summary, records, prior, c.v0, c.v1, c.edited, c.added)


def _stream_case():
    feed = gen.StreamFeed.create(seed=5, n_corpus=50, page_size=40)
    for _ in range(3):
        feed.next_page()
    n = 2
    fed = {int(d) for d in feed.pages[n].doc_id}
    skips = feed.expected_skips(n)
    flagged = feed.of_kind(n, "near_dup")
    clean = fed - skips - flagged
    return feed, n, fed, clean, flagged, skips


def test_stream_batch_accepts_a_right_disposition():
    feed, n, fed, clean, flagged, skips = _stream_case()
    assert skips and flagged
    assert check_stream_batch(n, fed, clean, flagged, skips, feed.may_flag(n), set(feed.controls)) == []


def test_stream_batch_rejects_a_doc_in_two_outputs():
    feed, n, fed, clean, flagged, skips = _stream_case()
    both = clean | {next(iter(flagged))}
    assert check_stream_batch(n, fed, both, flagged, skips, feed.may_flag(n), set(feed.controls))


def test_stream_batch_rejects_a_lost_or_wrongly_skipped_doc():
    feed, n, fed, clean, flagged, skips = _stream_case()
    lost = clean - {next(iter(clean))}
    assert check_stream_batch(n, fed, lost, flagged, skips, feed.may_flag(n), set(feed.controls))
    reprocessed = clean | {next(iter(skips))}
    assert check_stream_batch(n, fed, reprocessed, flagged, skips, feed.may_flag(n), set(feed.controls))


def test_stream_batch_rejects_a_flagged_control():
    feed, n, fed, clean, flagged, skips = _stream_case()
    control = next(iter(feed.of_kind(n, "control")))
    assert check_stream_batch(n, fed, clean - {control}, flagged | {control}, skips,
                              feed.may_flag(n), set(feed.controls))


def test_generated_inputs_are_a_function_of_the_seed():
    a, b = gen.batch_corpus(3, 40), gen.batch_corpus(3, 40)
    assert a.v1.equals(b.v1) and a.edited == b.edited
    assert not gen.batch_corpus(4, 40).v0.equals(a.v0)
    f1, f2 = gen.StreamFeed.create(3, 30, 20), gen.StreamFeed.create(3, 30, 20)
    for _ in range(3):
        assert f1.next_page().equals(f2.next_page())


def test_planted_pairs_and_controls_hold_their_jaccard_bounds():
    feed, *_ = _stream_case()
    assert all(j >= gen.NEAR_DUP_MIN_JACCARD for _, j in feed.planted.values())
    assert all(j <= gen.CONTROL_MAX_JACCARD for _, j in feed.controls.values())


def test_batch_docs_span_several_chunks():
    c = gen.batch_corpus(1, 300)
    n_chunks = [len(expected_chunk_ids(s, t)) for s, t in zip(c.v0.source, c.v0.text)]
    assert min(n_chunks) == 1 and max(n_chunks) >= 3
    assert all("\n" in t for t in c.v0.text if len(t) > 200)


def test_ann_recall_check_accepts_exact_answers_and_rejects_wrong_ones():
    ids, mat = ann.clustered_vectors(seed=2)
    ids, mat = ids[:3000], mat[:3000]
    q_ids, q = ann.query_batch(2, 0, mat)
    truth = ann.brute_force_topk(q, ids, mat)
    exact = {int(qi): t for qi, t in zip(q_ids, truth)}
    assert check_ann_recall(0, ann.recall_at_k(exact, q_ids, truth), ann.RECALL_FLOOR) == []
    shifted = {qi: {c + 1 for c in t} for qi, t in exact.items()}
    assert check_ann_recall(0, ann.recall_at_k(shifted, q_ids, truth), ann.RECALL_FLOOR)
