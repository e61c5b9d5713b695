"""The anchored tail read of the shared state core
(``streaming.state.anchored_read``) under a racing compactor.

A reader enumerates the ``batch_id=N`` tail above the manifest
watermark. If a fold with pruning publishes between that enumeration
and the reader's manifest re-read, the enumerated dirs of the folded
batches are gone; the reader must notice the advanced watermark and
re-anchor on the new version, so the folded batches' rows are still
returned. A watermark that never stops advancing must fail loudly.

Both readers built on the core are pinned: the ANN consumer
(``load_stream_ann_state``) and the composed pipeline's skip-state
view (``read_ingest_state``).
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from notion_vector_store_etl_pipeline_spark.operators.similarity import (
    quantize_and_assign,
    write_ivf_index,
)
from notion_vector_store_etl_pipeline_spark.streaming import state
from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
    compact_ann_stream_state,
    load_stream_ann_state,
    write_ivf_delta,
)
from notion_vector_store_etl_pipeline_spark.streaming.ingest_pipeline import (
    compact_ingest_state,
    read_ingest_state,
)

DIM = 4
CENT_IDS = np.array([0], dtype=np.int64)
CENT_MAT = np.ones((1, DIM), dtype=np.float64)
N_BATCHES = 3


def _assigned(spark, ids):
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in ids], "vec_id: long, emb: array<double>"
    )
    return quantize_and_assign(vecs, CENT_IDS, CENT_MAT, topn=1, id_col="vec_id", emb_col="emb")


def _ann_case(spark, root):
    """Base IVF index (vec 100) + one delta per batch (vecs 10b, 10b+1)."""
    base, out = f"{root}/base", f"{root}/ann"
    write_ivf_index(spark, _assigned(spark, [100]), CENT_IDS, CENT_MAT, base)
    for b in range(N_BATCHES):
        write_ivf_delta(spark, _assigned(spark, [10 * b, 10 * b + 1]), out, b, base, base)

    def read():
        vectors, _, _ = load_stream_ann_state(spark, out, base, before_batch=10**9)
        return {r.vec_id for r in vectors.select("vec_id").collect()}

    def fold():
        compact_ann_stream_state(
            spark, out, through_batch=1, base_index_path=base, prune_deltas=True
        )

    return read, fold, {100} | {10 * b + i for b in range(N_BATCHES) for i in (0, 1)}


def _ingest_case(spark, root):
    """One ``state/batch_id=N`` dir per batch (docs 10b, 10b+1)."""
    out = f"{root}/pipeline"
    for b in range(N_BATCHES):
        spark.createDataFrame(
            [(10 * b + i, f"h{10 * b + i}", [10 * b + i]) for i in (0, 1)],
            "doc_id: long, content_hash: string, vec_ids: array<long>",
        ).write.parquet(f"{out}/state/batch_id={b}")

    def read():
        view = read_ingest_state(spark, out, before_batch=10**9)
        return {r.doc_id for r in view.select("doc_id").collect()}

    def fold():
        compact_ingest_state(spark, out, through_batch=1, prune_state=True)

    return read, fold, {10 * b + i for b in range(N_BATCHES) for i in (0, 1)}


CASES = {"ann": _ann_case, "ingest": _ingest_case}


@pytest.mark.parametrize("case", sorted(CASES))
def test_fold_between_enumeration_and_reread_keeps_folded_rows(
    spark, tmp_path, monkeypatch, case
):
    read, fold, expected = CASES[case](spark, str(tmp_path))
    real = state.read_compaction_manifest
    calls = []

    def reader(root, spark=None):
        calls.append(root)
        if len(calls) == 2:
            # the re-read after the first tail enumeration: a fold with
            # pruning publishes now, moving batches 0-1 into version 1
            # and deleting their enumerated dirs
            monkeypatch.setattr(state, "read_compaction_manifest", real)
            fold()
            monkeypatch.setattr(state, "read_compaction_manifest", reader)
        return real(root, spark)

    monkeypatch.setattr(state, "read_compaction_manifest", reader)
    got = read()
    monkeypatch.setattr(state, "read_compaction_manifest", real)
    assert len(calls) == 4  # one stale attempt, one anchored retry
    assert state.watermark(real(calls[0], spark)) == 1
    assert got == expected


@pytest.mark.parametrize("case", sorted(CASES))
def test_watermark_advancing_on_every_read_fails_loudly(
    spark, tmp_path, monkeypatch, case
):
    read, _, _ = CASES[case](spark, str(tmp_path))
    tick = itertools.count()

    def reader(root, spark=None):
        i = next(tick)
        return {"version": i + 1, "through_batch": i, "index_path": f"{tmp_path}/base"}

    monkeypatch.setattr(state, "read_compaction_manifest", reader)
    with pytest.raises(RuntimeError, match="kept advancing"):
        read()
