"""``operators.cache``: the package's one persist API.

``persist`` pins a cache that outlives the call; ``cache_scope`` pins
caches that die with the block, whether it returns or raises;
``release_cache`` clears the session's cache and leaves
``localCheckpoint`` blocks alone. The two stream probes hold their pins
in a scope: after either probe returns or raises, only checkpoint
blocks may survive.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.cache import (
    cache_scope,
    persist,
    release_cache,
)

from tests.conftest import pinned_rdds

SOURCE = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(autouse=True, scope="module")
def _release_module_checkpoints(spark):
    """The probes here return localCheckpoint-backed frames. Whatever
    still references them when this module ends lets go later, and
    Spark's context cleaner then drops their RDDs at some later JVM
    collection, shifting the persistent-RDD count a later module
    snapshots (test_cli counts every persistent RDD). Unpersist this
    module's checkpoint RDDs on the way out instead."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    yield
    for rdd_id, rdd in rdds().items():
        if rdd_id not in before and rdd.rdd().isCheckpointed():
            rdd.unpersist(True)


def _cached(df) -> bool:
    """The session's cache holds ``df``'s plan (materialized or not)."""
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_scope_releases_its_pins_on_return_and_on_raise(spark):
    with cache_scope() as c:
        lazy = c.persist(spark.range(101))
        eager = c.persist(spark.range(102).filter("id % 2 = 0"), eager=True)
        assert _cached(lazy) and _cached(eager)
    assert not _cached(lazy) and not _cached(eager)

    def returns_from_the_scope():
        with cache_scope() as c:
            return c.persist(spark.range(103), eager=True)

    assert not _cached(returns_from_the_scope())

    with pytest.raises(RuntimeError, match="body failed"):
        with cache_scope() as c:
            raised = c.persist(spark.range(104), eager=True)
            raise RuntimeError("body failed")
    assert not _cached(raised)


def test_closing_a_nested_scope_keeps_the_outer_pins(spark):
    with cache_scope() as outer:
        a = outer.persist(spark.range(111), eager=True)
        with cache_scope() as inner:
            b = inner.persist(spark.range(112), eager=True)
        assert not _cached(b)
        assert _cached(a)
    assert not _cached(a)


def test_eager_persist_is_materialized_before_it_returns(spark):
    # a cache's RDD is persisted when its first job fills it
    before = pinned_rdds(spark)
    with cache_scope() as c:
        c.persist(spark.range(121))
        assert pinned_rdds(spark) == before  # lazy: no job yet
        c.persist(spark.range(122), eager=True)
        assert pinned_rdds(spark) == before + 1
    kept = persist(spark.range(123), eager=True)
    assert pinned_rdds(spark) == before + 1
    kept.unpersist()


def test_release_cache_drops_persists_and_keeps_checkpoints(spark, monkeypatch):
    kept = persist(spark.range(131), eager=True)
    ckpt = spark.range(132).withColumn("sq", F.col("id") * F.col("id"))
    ckpt = ckpt.localCheckpoint(eager=True)
    release_cache()
    assert not _cached(kept)
    # localCheckpoint blocks cannot be recomputed: reading them after
    # the release proves they were left in place
    assert ckpt.agg(F.sum("sq")).collect()[0][0] == sum(i * i for i in range(132))

    # no active session: nothing to clear, and no error
    again = persist(spark.range(133), eager=True)
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    release_cache()
    assert _cached(again)
    again.unpersist()


def test_probe_batch_releases_its_own_caches(spark, monkeypatch):
    """probe_batch's intermediates must not outlive the call, on return
    AND when the call raises mid-probe: direct callers (tests, registry
    code) have no release contract to honor. The returned flagged frame
    is checkpoint-backed and both outputs stay collectible after every
    probe-internal persist is gone."""
    from notion_vector_store_etl_pipeline_spark.streaming import dedup_stream

    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).limit(20)
    index = D.build_lsh_index(corpus)

    release_cache()
    before = pinned_rdds(spark)
    flagged, clean = dedup_stream.probe_batch(batch, corpus, index)
    assert pinned_rdds(spark) == before
    f = flagged.collect()
    c = clean.collect()
    assert len(c) + len({r.batch_id for r in f}) == batch.count()

    def boom(*args, **kwargs):
        raise RuntimeError("verify failed")

    # the corpus verify runs after the batch and its candidates are
    # materialized
    monkeypatch.setattr(dedup_stream, "jaccard_verify_sets", boom)
    with pytest.raises(RuntimeError, match="verify failed"):
        dedup_stream.probe_batch(batch, corpus, index)
    assert pinned_rdds(spark) == before


def test_probe_vector_batch_releases_its_pins(spark, monkeypatch):
    """The embedding probe's three pins (the assigned batch, the
    fresh-assigned corpus side, the intra-batch survivors) must not
    outlive the call, on return AND when the call raises mid-probe.
    A bare corpus with ``intra_batch=True`` takes all three. What may
    survive are localCheckpoint blocks only (the probe's flagged frames
    and the sequential peel's rounds), never a persist()."""
    import numpy as np

    from notion_vector_store_etl_pipeline_spark.operators import similarity
    from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
        probe_vector_batch,
    )

    schema = "vec_id: long, emb: array<double>"
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.1]), (3, [0.0, 1.0])], schema
    )
    # one corpus vector in each IVF list, near-dup of no batch vector
    corpus = spark.createDataFrame([(100, [-1.0, 0.0]), (101, [0.0, -1.0])], schema)
    cent_ids = np.array([0, 1], dtype=np.int64)
    cent_mat = np.array([[1.0, 0.0], [0.0, 1.0]])

    before = pinned_rdds(spark)
    flagged, clean = probe_vector_batch(
        batch, corpus, cent_ids, cent_mat, 0.5, probes=1, intra_batch=True
    )
    assert pinned_rdds(spark) == before
    assert sorted((r.batch_id, r.corpus_id) for r in flagged.collect()) == [(2, 1)]
    assert sorted(r.vec_id for r in clean.collect()) == [1, 3]

    def boom(*args, **kwargs):
        raise RuntimeError("intra stage failed")

    monkeypatch.setattr(similarity, "cosine_selfjoin_pairs", boom)
    with pytest.raises(RuntimeError, match="intra stage failed"):
        probe_vector_batch(batch, corpus, cent_ids, cent_mat, 0.5, probes=1, intra_batch=True)
    assert pinned_rdds(spark) == before
