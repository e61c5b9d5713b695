"""Round-10 state-layer lifecycle: the streaming wings running their
manifests/deltas/compaction over a Hadoop-FS URI root (the
object-store code path, exercised with ``file:`` URIs), version
retention/vacuum, the empty-compaction-window no-op, and the
internalized probe_batch cache lifecycle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    compact_stream_state,
    probe_batch,
    read_compaction_manifest,
    streaming_dedup_ingest,
    vacuum_index_versions,
)

SOURCE = "/root/testdata/sf0.001/documents.parquet"


def _fixture(spark, tmp_path):
    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_path = str(tmp_path / "corpus")
    batch_path = str(tmp_path / "incoming.parquet")
    index_path = str(tmp_path / "lsh_index")
    corpus.write.parquet(corpus_path)
    pdf = batch.orderBy("doc_id").toPandas()
    # GUARANTEE a cross-micro-batch duplicate: a synthetic doc with
    # corpus-disjoint vocabulary sorts into the FIRST page (id -10, so
    # it can't collide with a corpus id and trip the update flow, and
    # can't be flagged against the base corpus — it survives to prior
    # state), and its near-copy sorts into the LAST page. Flagging the
    # copy therefore requires reading PRIOR-BATCH state — the exact
    # path the URI-parity test protects. A natural stream doc won't
    # do: e.g. doc 0 is itself a dup of corpus doc 82, never survives
    # to prior state, and its copy flags against the corpus instead.
    uniq = " ".join(f"zzuniq{i}" for i in range(60))
    pdf.loc[len(pdf)] = {"doc_id": -10, "text": uniq}
    pdf.loc[len(pdf)] = {"doc_id": 999_990, "text": uniq + " tiny appended edit"}
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    pdf.to_parquet(batch_path, index=False)
    D.write_lsh_index(D.build_lsh_index(corpus), index_path)
    return corpus_path, batch_path, index_path


def _run(spark, batch_path, corpus_path, index_path, out, ckpt, **kw):
    q = streaming_dedup_ingest(
        spark, batch_path, corpus_path, index_path, out, ckpt, **kw
    )
    q.processAllAvailable()
    q.stop()


def _read_outputs(spark, out):
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged")
        .select("batch_id", "corpus_id")
        .collect()
    }
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    return flagged, clean


@pytest.mark.slow
def test_stream_state_on_hadoop_uri_matches_posix(spark, tmp_path):
    """The VERDICT r9 top item, end to end: the SAME compacting,
    delta-pruning ingest-dedup stream run with its state root as a
    ``file:`` URI (every manifest read/write, tail enumeration, prune
    and anchor-corpus check routed through the JVM Hadoop FileSystem —
    the exact path an s3a:// root takes) must produce byte-identical
    flagged/clean outputs and the same manifest watermark as the plain
    POSIX run. Before the shim, the URI run would silently see NO prior
    state (os.path.isdir('file:/...') is False) and missed duplicates
    would sail through."""
    corpus_path, batch_path, index_path = _fixture(spark, tmp_path)

    results = {}
    for name, root in (
        ("posix", str(tmp_path / "out_posix")),
        ("hadoop", f"file:{tmp_path}/out_uri"),
    ):
        ckpt = str(tmp_path / f"ckpt_{name}")
        _run(
            spark,
            batch_path,
            corpus_path,
            index_path,
            root,
            ckpt,
            page_size=10,
            pages_per_batch=1,
            update_index=True,
            compact_every=2,
            compact_prune_deltas=True,
        )
        man = read_compaction_manifest(root, spark)
        results[name] = (*_read_outputs(spark, root), man["version"], man["through_batch"])

    assert results["hadoop"] == results["posix"]
    # the stream must actually have exercised compaction + cross-batch
    # dedup for the parity to mean anything
    assert results["posix"][2] >= 2
    assert results["posix"][0], "no flagged pairs — fixture regressed"
    # ...and at least one flagged pair must be CROSS-BATCH (its match is
    # a stream doc, % 10 == 0, seen in an EARLIER micro-batch — not the
    # static base corpus): base-corpus matches are identical whether or
    # not prior state is visible, so without this the r9 failure mode
    # under guard (URI root silently sees NO prior state) could regress
    # while every assertion above stays green (r10 test review)
    assert any(c % 10 == 0 for _, c in results["posix"][0]), (
        "no cross-batch flagged pair — the prior-state read path was "
        "not exercised; fixture drifted?"
    )

    # pruning actually removed folded delta dirs on the URI root
    uri_deltas = [
        d
        for d in os.listdir(f"{tmp_path}/out_uri/index_delta")
        if d.startswith("batch_id=")
    ]
    through = results["hadoop"][3]
    assert all(int(d.split("=")[1]) > through for d in uri_deltas)


@pytest.mark.slow
def test_compact_retain_versions_vacuums_superseded(spark, tmp_path):
    """retain_versions=N: after each publish, index versions superseded
    by more than N compactions are deleted — storage is O(N x index),
    not O(stream age) — while the manifest-published version always
    survives and the stream's outputs are unchanged vs the no-vacuum
    twin (VERDICT r9 missing #3)."""
    corpus_path, batch_path, index_path = _fixture(spark, tmp_path)

    outs = {}
    for name, extra in (
        ("vacuumed", {"compact_retain_versions": 1}),
        ("kept", {}),
    ):
        out, ckpt = str(tmp_path / f"out_{name}"), str(tmp_path / f"ckpt_{name}")
        _run(
            spark,
            batch_path,
            corpus_path,
            index_path,
            out,
            ckpt,
            page_size=10,
            pages_per_batch=1,
            update_index=True,
            compact_every=2,
            **extra,
        )
        outs[name] = _read_outputs(spark, out)

    assert outs["vacuumed"] == outs["kept"]

    out = str(tmp_path / "out_vacuumed")
    man = read_compaction_manifest(out, spark)
    k = man["version"]
    assert k >= 2, "need >= 2 compactions for vacuum to have work"
    versions = sorted(
        int(d[1:]) for d in os.listdir(f"{out}/index_versions") if d.startswith("v")
    )
    assert versions == [k], versions  # retain_versions=1: only the live one
    # the no-vacuum twin kept every version
    kept = sorted(
        int(d[1:])
        for d in os.listdir(f"{tmp_path}/out_kept/index_versions")
        if d.startswith("v")
    )
    assert kept == list(range(1, k + 1))

    # the surviving version is probe-ready
    assert D.load_lsh_index(spark, f"{out}/index_versions/v{k}").count() > 0

    # corpus versions are NEVER vacuumed — additive live state
    corpus_vs = {
        d for d in os.listdir(f"{out}/corpus_versions") if d.startswith("v=")
    }
    assert corpus_vs == {f"v={j}" for j in range(1, k + 1)}

    # idempotent re-run deletes nothing further
    assert vacuum_index_versions(spark, out, k, 1) == []


def test_vacuum_refuses_retaining_zero(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="retain_versions"):
        vacuum_index_versions(spark, str(tmp_path), 3, 0)


@pytest.mark.slow
def test_compaction_empty_window_is_noop(spark, tmp_path):
    """ADVICE r9 #2: a compaction window containing no committed delta
    dirs (all batches empty, or the tail was already pruned) must
    return the manifest unchanged — not crash with 'Unable to infer
    schema' from reading an empty delta root, and not publish a bogus
    version. Standalone compact_lsh_index over an empty tail returns
    False without writing."""
    corpus_path, batch_path, index_path = _fixture(spark, tmp_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(
        spark,
        batch_path,
        corpus_path,
        index_path,
        out,
        ckpt,
        page_size=10,
        pages_per_batch=1,
        update_index=True,
    )
    from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
        latest_committed_batch,
    )

    last = latest_committed_batch(ckpt)
    man1 = compact_stream_state(
        spark,
        out,
        through_batch=last,
        base_index_path=index_path,
        base_corpus_path=corpus_path,
        prune_deltas=True,
    )
    assert man1 is not None and man1["version"] == 1
    # advance the watermark over a window with NO deltas (everything
    # committed was just folded and pruned; nothing new arrived)
    man2 = compact_stream_state(
        spark,
        out,
        through_batch=man1["through_batch"] + 50,
        base_index_path=index_path,
        base_corpus_path=corpus_path,
    )
    assert man2 == man1  # unchanged manifest, no crash, no bogus version

    wrote = D.compact_lsh_index(
        spark,
        base_path=index_path,
        delta_dir=f"{out}/index_delta",
        out_path=str(tmp_path / "never"),
        after_batch=man1["through_batch"],
        through_batch=man1["through_batch"] + 50,
    )
    assert wrote is False and not os.path.exists(str(tmp_path / "never"))


def test_probe_batch_releases_its_own_caches(spark):
    """ADVICE r9 #4: probe_batch's intermediates must not outlive the
    call — direct callers (tests, registry code) have no release
    contract to honor. The returned flagged frame is checkpoint-backed
    and both outputs stay collectible after every probe_batch-internal
    persist is gone."""
    from notion_vector_store_etl_pipeline_spark.operators.cache import (
        _PERSISTED,
        release_cache,
    )

    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).limit(20)
    index = D.build_lsh_index(corpus)

    # count LIVE JVM-persistent RDDs, not just the global tracker:
    # probe_batch's own intermediates persist through a LOCAL list the
    # tracker never sees, so a tracker-only assertion passes even if
    # the internal unpersist loop is deleted (r10 test review)
    release_cache()
    spark.catalog.clearCache()
    jvm_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    tracked_before = len(_PERSISTED)
    flagged, clean = probe_batch(batch, corpus, index)
    # no new globally-tracked persists leak from the call
    assert len(_PERSISTED) == tracked_before
    # the only surviving JVM-side blocks are the returned frames'
    # localCheckpoints (flagged + clean) — every internal persist is gone
    jvm_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert jvm_after - jvm_before <= 2, (
        f"probe_batch leaked {jvm_after - jvm_before - 2} internal "
        "persists past the call"
    )
    f = flagged.collect()
    c = clean.collect()
    assert len(c) + len({r.batch_id for r in f}) == batch.count()


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

    def pinned_rdds() -> int:
        # cached RDDs that are not (local) checkpoints: persist() pins
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(not r.rdd().isCheckpointed() for r in rdds)

    before = pinned_rdds()
    flagged, clean = probe_vector_batch(
        batch, corpus, cent_ids, cent_mat, 0.5, probes=1, intra_batch=True
    )
    assert pinned_rdds() == before
    assert sorted((r.batch_id, r.corpus_id) for r in flagged.collect()) == [(2, 1)]
    assert sorted(r.vec_id for r in clean.collect()) == [1, 3]

    def boom(*args, **kwargs):
        raise RuntimeError("intra stage failed")

    monkeypatch.setattr(similarity, "cosine_selfjoin_pairs", boom)
    with pytest.raises(RuntimeError, match="intra stage failed"):
        probe_vector_batch(batch, corpus, cent_ids, cent_mat, 0.5, probes=1, intra_batch=True)
    assert pinned_rdds() == before


def test_vacuum_watermark_bounds_rescans(spark, tmp_path, monkeypatch):
    """The vacuum.json watermark (r10 review finding 6): each call
    probes only versions added since the last vacuum — the watermark
    file advances with the cut and a re-call below it is a pure no-op
    (no O(stream-age) re-probing of long-retired versions).

    The bounded-probing claim is pinned OBSERVATIONALLY via a counting
    FS wrapper: outcome-only assertions can't distinguish the
    watermark from a full v1.. rescan (already-deleted dirs return
    exists=False and produce the identical [] — r10 test review)."""
    from notion_vector_store_etl_pipeline_spark.operators.statefs import (
        read_json,
        state_fs,
    )
    from notion_vector_store_etl_pipeline_spark.streaming import state as DS

    out = str(tmp_path / "vac")
    fs = state_fs(spark, out)
    for j in range(1, 6):
        os.makedirs(f"{out}/index_versions/v{j}", exist_ok=True)
        with open(f"{out}/index_versions/v{j}/marker", "w") as f:
            f.write("x")

    probed: list[int] = []
    real_state_fs = DS.state_fs

    class CountingFS:
        def __init__(self, inner):
            self._inner = inner

        def exists(self, p):
            if "/index_versions/v" in p:
                probed.append(int(p.rsplit("v", 1)[1]))
            return self._inner.exists(p)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    monkeypatch.setattr(
        DS, "state_fs", lambda sp, path: CountingFS(real_state_fs(sp, path))
    )

    # current=4, retain=2 -> cut=2: v1..v2 vacuumed, watermark=2
    assert vacuum_index_versions(spark, out, 4, 2) == [1, 2]
    assert sorted(probed) == [1, 2]
    wm = read_json(fs, f"{out}/_compaction/vacuum.json")
    assert wm == {"vacuumed_through": 2}

    # same cut again: NOTHING probed below the watermark, no deletions
    probed.clear()
    assert vacuum_index_versions(spark, out, 4, 2) == []
    assert probed == [], "re-call probed below the watermark"
    # advance: current=5 -> cut=3, ONLY v3 touched, watermark follows
    probed.clear()
    assert vacuum_index_versions(spark, out, 5, 2) == [3]
    assert probed == [3]
    assert read_json(fs, f"{out}/_compaction/vacuum.json") == {
        "vacuumed_through": 3
    }
    assert sorted(os.listdir(f"{out}/index_versions")) == ["v4", "v5"]


def test_probe_batch_update_flow_not_self_flagged(spark):
    """r10 review finding: an UPDATED document (same doc_id as its
    corpus entry, changed text) must NOT be flagged as a near-dup of
    itself — (batch X, corpus X) is an update, not a duplicate. Real
    cross-id duplicates still flag, including the updated doc matching
    a DIFFERENT corpus doc, verified against the batch's NEW text."""
    docs = spark.read.parquet(SOURCE).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    corpus_rows = corpus.orderBy("doc_id").limit(2).collect()
    x_id, x_text = corpus_rows[0].doc_id, corpus_rows[0].text
    w_id, w_text = corpus_rows[1].doc_id, corpus_rows[1].text
    index = D.build_lsh_index(corpus)

    # batch: X re-sent with a small edit (near-identical to corpus X),
    # and a new doc 777777 that is a near-copy of corpus W
    batch = spark.createDataFrame(
        [
            (int(x_id), x_text + " tiny appended edit"),
            (777_777, w_text + " minor tail"),
        ],
        "doc_id long, text string",
    )
    flagged, clean = probe_batch(batch, corpus, index)
    pairs = {(r.batch_id, r.corpus_id) for r in flagged.collect()}
    assert (x_id, x_id) not in pairs, "update flagged as self-duplicate"
    assert (777_777, w_id) in pairs, "real cross-id duplicate missed"
    clean_ids = {r.doc_id for r in clean.collect()}
    # the updated doc flows through (unless it matched ANOTHER doc)
    if not any(b == x_id for b, _ in pairs):
        assert x_id in clean_ids
