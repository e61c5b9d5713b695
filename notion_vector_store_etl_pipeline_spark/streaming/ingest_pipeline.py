"""The composed streaming flagship: the reference's ONE ``run_etl``
lifecycle — crawl -> skip-unchanged -> dedup -> chunk -> embed -> index
(``Notion_openai_vector_etl.py:617-778``) — as a single ``foreachBatch``
pipeline over the engine's streaming wings, proving the stages'
checkpoints and manifests compose instead of fighting (VERDICT r9
next-round #4).

Stages per micro-batch, each the streaming twin of a registered batch
operator:

1. **paginated source** — pages of the incoming feed; resume owned by
   the Spark checkpoint (the reference's cursor walk, ``:640``).
2. **incremental skip** — sha2 content hash vs the accumulated
   ``state/`` tree: a doc whose (doc_id, content_hash) was already
   processed is dropped (the reference's manifest cache-hit, ``:664``;
   batch twin: ``plans/incremental_queries.incremental_changed``).
3. **dedup probe** — :func:`streaming.dedup_stream.probe_batch`
   against the STORED LSH corpus index: flagged near-dups diverted,
   survivors continue (``run_etl`` has no dedup — this is the
   engine-extension stage the training-data pipeline needs).
4. **chunk** — the same Arrow-free chunk stage as the plain streaming
   ETL (streaming/pipeline.py ``chunk_stage``; reference ``:310-326``).
5. **embed + index** — each chunk gets a deterministic
   :func:`functions.vectors.hash_embedding` (the model stand-in; the
   engine's contract is the plumbing) and is assigned against the
   stored IVF index's OWN centroid sidecar, landing as a
   ``batch_id``-keyed ``list_id``-sorted delta under
   ``<out>/ann`` — the exact layout ``streaming.ann_stream`` owns
   (plain sorted files per micro-batch; the fold restores the
   partitioned layout), so
   ``load_stream_ann_state(spark, f"{out}/ann", ivf_index_path, ...)``
   probes the pipeline's output directly and
   ``compact_ann_stream_state`` (including
   ``rebuild_centroids=True``) applies unchanged: each batch resolves
   its IVF anchor through the ann tree's compaction manifest, so a
   centroid refresh published between batches is picked up and new
   deltas assign against the CURRENT sidecar.

Exactly-once: every per-batch artifact (state, flagged, clean, events,
index delta, ann delta) is a ``batch_id=N`` overwrite — crash replays
rewrite byte-identically, the same discipline as both wings.

Dedup is INTRA-STREAM as well as cross-corpus (VERDICT r10 #1): with
``update_index=True`` (the default) each batch's surviving docs write
an LSH index DELTA and later batches probe corpus ∪ committed stream
deltas — the reference's ``run_etl`` is ONE lifecycle over one
manifest (:617-778), so a near-dup pair split across two stream
batches must flag, not sail through. The delta/compaction machinery is
``streaming_dedup_ingest``'s (``compact_stream_state`` and
``dedup_anchor_view`` on this pipeline's own ``index_delta``/``clean``
trees); all three state roots — the dedup trees, ``state/`` and
``ann/`` — share the manifest, tail read and fold protocol of
:mod:`streaming.state` (object-store-safe IO via
:mod:`operators.statefs`). ``update_index=False`` restores the
cross-corpus-only scope. The batch twin :func:`batch_ingest_etl`
composes the same semantics one-pass via ``intra_batch=True``. Multi-doc chains resolve
per the shared ``chain_policy`` knob (VERDICT r11 #2,
:data:`operators.dedup.CHAIN_POLICIES`): the default "sequential"
makes the stream and the one-pass twin agree EXACTLY — a chain a~b~c
flags b (against a) and keeps c whether the chain lands in one
micro-batch, splits across batches, or runs through the twin —
pinned in tests/test_chain_policy.py.

Document lifecycle (ADVICE r10 + VERDICT r10 #2): the skip stage
compares each doc against its LATEST state row (not the additive
ever-seen set), so a doc whose content reverts A->B->A is REPROCESSED
— its version-A vectors were marked stale when B superseded them, and
skipping would serve the doc with B's embeddings forever. Supersession
is one ordered EVENT log keyed by batch, ``events/batch_id=N`` of
``(vec_id, live)`` rows (:func:`supersede_events`): re-processing a
doc writes its latest prior version's vec_ids that the new content
does not regenerate with ``live = false`` (stale), and the previously
known vec_ids it does regenerate with ``live = true`` (revive). A
vec_id is dead iff its newest event, ranked by ``(batch_id, live)``,
has ``live = false`` — a revive wins a tie at equal batch.
:func:`compact_pipeline_ann_state` then physically RECLAIMS dead
vectors at fold time (the folded version contains zero dead vec_ids —
the reference deletes stale vector files outright, ``:609-614``) and
retires the consumed events behind the manifest's ``stale_through``
watermark, so the serve-time subtraction list is bounded by the fold
cadence, not the corpus's lifetime update count. An ``out_dir`` that
still holds the older two-tree layout (separate ``stale``/``revive``
trees) is rejected, not read (:func:`_reject_two_tree_layout`).

Stream == batch-twin parity is pinned in tests/test_ingest_pipeline.py;
the revert/reclaim lifecycle in tests/test_ingest_pipeline_r11.py.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from notion_vector_store_etl_pipeline_spark.functions import vectors as V
from notion_vector_store_etl_pipeline_spark.operators.cache import (
    checkpoint_page,
    memo_df,
)
from notion_vector_store_etl_pipeline_spark.operators.dedup import load_lsh_index
from notion_vector_store_etl_pipeline_spark.operators.similarity import (
    load_ivf_sidecar,
    quantize_and_assign,
)
from notion_vector_store_etl_pipeline_spark.operators.statefs import (
    batch_dirs,
    read_json,
    state_fs,
    write_json_atomic,
)
from notion_vector_store_etl_pipeline_spark.sources.paginated import foreach_page_batch
from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
    compact_ann_stream_state,
    ivf_anchor,
    load_stream_ann_state,
    write_ivf_delta,
)
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    anchor_manifest,
    compact_stream_state,
    dedup_anchor_view,
    probe_batch,
)
from notion_vector_store_etl_pipeline_spark.streaming.pipeline import chunk_stage
from notion_vector_store_etl_pipeline_spark.streaming.state import (
    anchored_read,
    drop_versions,
    fold_due,
    open_fold,
    publish_fold,
    read_compaction_manifest,
    read_prior_batches,
    state_file,
    upgrade_due,
    watermark,
)

EMBED_DIM = 8

# ---------------------------------------------------------------------------
# Opt-in per-stage profiler for the composed stream's foreachBatch body
# (VERDICT r13 #1: attribute the per-batch FIXED overhead to manifest /
# state re-reads vs kernel floor vs scheduling before optimizing it).
# When enabled, _process appends (batch_id, stage, seconds) rows; the
# hook costs two perf_counter() calls per stage when off.
_PROFILE: list | None = None


def enable_stage_profile() -> list:
    """Turn on stage timing; returns the live list the stream appends
    (batch_id, stage, seconds) tuples to."""
    global _PROFILE
    _PROFILE = []
    return _PROFILE


def disable_stage_profile() -> None:
    global _PROFILE
    _PROFILE = None


_PROFILE_BID = -1  # batch currently inside _process, for nested marks


def _mark(batch_id: int, name: str, t0: float) -> float:
    """Record the stage ``name`` as having run from ``t0`` to now;
    returns now (the next stage's t0). No-op-cheap when profiling is
    off."""
    now = time.perf_counter()
    if _PROFILE is not None:
        _PROFILE.append((batch_id, name, now - t0))
    return now


def embedded_chunks(clean_docs: DataFrame, max_len: int = 400) -> DataFrame:
    """chunk -> embed: survivor docs to (vec_id, chunk id, doc_id,
    chunk_index, emb) rows. ``vec_id`` is the 64-bit hash of the
    deterministic chunk id (the reference's sha-derived per-chunk id,
    ``:310-326``) SALTED WITH doc_id, the long key the IVF machinery
    indexes on. The doc_id salt keeps vector liveness per-document:
    chunk ids are (source, content_hash, chunk_index) — two live docs
    with identical source+text would otherwise share every vec_id, and
    updating ONE of them would stale (and, at the next ann fold,
    physically reclaim) the other's still-live vectors (r11 review).
    Within one doc the id stays a pure content function, which is what
    the revert/revive ordering relies on."""
    records = chunk_stage(clean_docs, max_len)
    return records.select(
        F.xxhash64("id", "doc_id").alias("vec_id"),
        F.col("id").alias("chunk_id"),
        "doc_id",
        "chunk_index",
        V.hash_embedding(F.col("text"), EMBED_DIM).alias("emb"),
    )


def ingest_stage(
    spark: SparkSession,
    todo: DataFrame,
    corpus_docs: DataFrame,
    lsh_index: DataFrame,
    ivf_index_path: str,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    max_len: int = 400,
    intra_batch: bool = False,
    return_clean_buckets: bool = False,
    chain_policy: str = "sequential",
) -> tuple[DataFrame, ...]:
    """The shared probe -> chunk -> embed -> assign composition (after
    the skip stage, which differs between batch and stream only in
    where prior state comes from). Returns (flagged, clean, chunks,
    assigned_chunk_vectors) — ``chunks`` is the (vec_id, chunk_id,
    doc_id, chunk_index) linkage table: an ANN hit on a stored vector
    traces back to its source document/chunk through it (the
    reference's index keeps chunk->doc linkage explicitly,
    ``Notion_openai_vector_etl.py:310-326``; without this frame the
    mapping would need a chunk-stage re-run to reconstruct).
    ``intra_batch`` also dedups within the incoming set (the batch
    twin's stand-in for the stream's cross-batch index growth);
    ``return_clean_buckets`` appends the clean docs' melted LSH
    buckets as a fifth element — the stream's index-delta rows, cut
    from the buckets the probe already derived from its one shingle
    pass over the batch (probe_batch docstring)."""
    _t = time.perf_counter()
    # probe_batch shingles only (doc_id, text), once, and its clean
    # frame keeps every column it is given: the chunk stage's source
    # column rides along, so clean_full is a lazy filter over the
    # probe's checkpoint, not a rejoin pinned of its own
    probed = probe_batch(
        todo.select("doc_id", "text", "source"),
        corpus_docs,
        lsh_index,
        threshold,
        num_hashes,
        bands,
        intra_batch=intra_batch,
        return_clean_buckets=return_clean_buckets,
        chain_policy=chain_policy,
    )
    flagged, clean_full = probed[0], probed[1]
    _t = _mark(_PROFILE_BID, "kernel:probe", _t)
    # clean_full stays lazy: this stage pins nothing, and keeps its
    # slot in the stage profile
    _t = _mark(_PROFILE_BID, "kernel:clean_pin", _t)
    # sidecar only — the vectors scan would be discarded, and its
    # eager listing cost ~1 s/batch (VERDICT r13 #1); the memo behind
    # load_ivf_sidecar makes repeat anchors free
    c_ids, c_mat = load_ivf_sidecar(spark, ivf_index_path)
    _t = _mark(_PROFILE_BID, "kernel:ivf_load", _t)
    chunks, _ = checkpoint_page(embedded_chunks(clean_full, max_len))
    _t = _mark(_PROFILE_BID, "kernel:chunk_embed", _t)
    assigned = quantize_and_assign(
        chunks.select("vec_id", "emb"), c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"
    )
    out = (
        flagged,
        clean_full,
        chunks.select("vec_id", "chunk_id", "doc_id", "chunk_index"),
        assigned,
    )
    if return_clean_buckets:
        return out + (probed[2],)
    return out


#: the per-batch trees of the skip/event state (both folded behind the
#: ``{out}/state`` manifest) and their columns; ``batch_id`` (the
#: partition column of the per-batch dirs) is KEPT as a data column in
#: every folded version: the skip stage orders state rows by it
#: (latest-per-doc), and ``events`` is one ordered log whose
#: ``(batch_id, live)`` rank decides liveness (module docstring)
STATE_TREES = {
    "state": ["doc_id", "content_hash", "vec_ids", "batch_id"],
    "events": ["vec_id", "batch_id", "live"],
}

#: the older layout's event trees: stale and revive in two parallel logs
_TWO_TREE_LAYOUT = ("stale", "revive", "stale_versions", "revive_versions")


def _reject_two_tree_layout(spark: SparkSession, out_dir: str) -> None:
    """Fail loudly on an ``out_dir`` that still holds the two-tree event
    layout (separate ``stale``/``revive`` logs and their folds): this
    build reads one tagged ``events`` log, and reading only half a
    history would serve superseded vectors. A driver-side existence
    check, no Spark job."""
    fs = state_fs(spark, out_dir)
    found = [t for t in _TWO_TREE_LAYOUT if fs.is_dir(f"{out_dir}/{t}")]
    if found:
        raise ValueError(
            f"{out_dir} holds the two-tree event layout ({', '.join(found)}); "
            "stale and revive events are now one events/ log — re-ingest into "
            "a fresh out_dir"
        )


def _stale_through(spark: SparkSession, out_dir: str) -> int:
    """The ann fold's event watermark: events at or below it are
    consumed (their effect is physical in the ann index)."""
    return (read_compaction_manifest(f"{out_dir}/ann", spark) or {}).get(
        "stale_through", -1
    )


def vacuum_consumed_events(spark: SparkSession, out_dir: str) -> dict:
    """Physically delete event VERSIONS whose every row is at or below
    the ann manifest's ``stale_through`` watermark — those events were
    CONSUMED by :func:`compact_pipeline_ann_state` (their effect is
    physical in the folded index), so the rows are pure history that
    would otherwise accumulate for the life of the corpus (the r11
    "watermark-retired but not physically vacuumed" residual).

    Version windows are batch-ordered and monotone in ``v``, so the
    scan walks contiguously from a vacuum watermark
    (``state/_compaction/events_vacuum.json``) and stops at the first
    version holding any unconsumed row — each call probes only
    versions added since the last vacuum, never O(stream age). A
    version dir missing (a prior crashed vacuum's completed delete, or
    a window without events) just advances the watermark. When the
    versions root is left empty it is removed so readers keep their
    fast is_dir miss. Crash-safe: the watermark is written AFTER the
    deletes; a replay re-issues idempotent deletes, never skips one.
    Returns the watermark dict.

    Tail dirs below the STATE fold watermark are reclaimed by
    ``compact_ingest_state(prune_state=True)`` as before; with
    ``vacuum_events=True`` that fold also excludes already-consumed
    rows from the versions it writes, so fold + prune + this vacuum
    together leave no physical copy of a consumed event."""
    fs = state_fs(spark, out_dir)
    man = read_compaction_manifest(f"{out_dir}/state", spark)
    if not man:
        return {}
    consumed = _stale_through(spark, out_dir)
    wm_path = state_file(f"{out_dir}/state", "events_vacuum.json")
    wm = read_json(fs, wm_path) or {}
    if consumed < 0:
        # no ann fold has ever consumed anything — nothing can be
        # vacuumable, so don't pay a per-call parquet scan (r11b
        # review #5: without this, every state-fold boundary of a
        # vacuum_events stream with no ann cadence launched jobs that
        # could never delete)
        return wm
    root = f"{out_dir}/events_versions"
    through = wm.get("through", 0)
    head = wm.get("head")  # [version, max_batch] of the blocking version
    for j in range(through + 1, man["version"] + 1):
        vdir = f"{root}/v={j}"
        if fs.is_dir(vdir):
            if head and head[0] == j and head[1] > consumed:
                # the blocking version's max batch is cached from a
                # prior walk and still unconsumed — skip the scan. A
                # retried fold can only REWRITE v=j with fewer consumed
                # rows (max never grows), so the cache is an upper
                # bound: it may defer a delete one call, never delete
                # early.
                break
            mx = spark.read.parquet(vdir).agg(F.max("batch_id")).head()[0]
            if mx is not None and mx > consumed:
                head = [j, mx]
                break
            fs.delete_recursive(vdir)
        through = j
    drop_versions(fs, root, below=0)  # removes the root once emptied
    new = {"through": through}
    if head and head[0] > through:
        new["head"] = head
    if new != wm:
        write_json_atomic(fs, wm_path, new)
    return new


def compact_ingest_state(
    spark: SparkSession,
    out_dir: str,
    through_batch: int,
    prune_state: bool = False,
    vacuum_events: bool = False,
) -> dict:
    """Fold the ``state``/``events`` batch tails (N <=
    ``through_batch``) into the next ``{tree}_versions/v=<k>``
    partitions and publish the watermark (the manifest of state root
    ``{out_dir}/state``) — the skip manifest's version of the
    compaction both wings already have. ``batch_id`` survives the fold
    as a data column (event ordering and latest-row skip both need
    it). Without it the skip stage re-reads EVERY state batch ever
    written per micro-batch: O(stream age) listing + read, the exact
    unbounded term the bounded tail read was built to kill (a month of
    1k batches/day = a 30k-dir enumeration per batch).

    The fold is ADDITIVE (each version holds only its window's rows,
    deduplicated within the window): the skip stage reduces the union
    to the LATEST row per doc by batch_id and liveness reduces events
    by ``(batch_id, live)`` rank, so duplicate rows across versions are
    harmless and no cross-version merge is needed — the same
    constant-scan-branch design as the dedup wing's
    ``corpus_versions``. The fold protocol (replay no-op, orphan
    versions hidden until publish) is :mod:`streaming.state`'s.
    ``prune_state=True`` deletes the folded batch dirs after the
    publish (their rows live in the version). ``vacuum_events=True``
    additionally (a) excludes event rows already CONSUMED by the ann
    fold (at or below the ann manifest's ``stale_through`` — their
    effect is physical in the index version) from the event version
    this fold writes, and (b) runs :func:`vacuum_consumed_events` after
    every call, folding or not (the ann watermark advances on its own
    cadence, and an idle feed must not leave consumed versions
    lingering) — with ``prune_state`` too, no physical copy of a
    consumed event survives. A retried fold under an advanced ann
    watermark rewrites ``v=<k>`` with fewer consumed rows, all of which
    every reader already filters below ``stale_through``."""
    root = f"{out_dir}/state"
    man, k = open_fold(spark, root, through_batch)
    if k is not None:
        fs = state_fs(spark, out_dir)
        consumed = _stale_through(spark, out_dir) if vacuum_events else -1
        folded_dirs = []
        for tree, cols in STATE_TREES.items():
            tree_root = f"{out_dir}/{tree}"
            dirs = batch_dirs(fs, tree_root, watermark(man), through_batch + 1)
            if not dirs:
                continue
            folded_dirs.extend(dirs)
            window = (
                spark.read.option("basePath", tree_root)
                .parquet(*dirs)
                .select(*cols)
                .dropDuplicates()
            )
            if tree == "events" and consumed >= 0:
                window = window.filter(F.col("batch_id") > consumed)
                if window.isEmpty():
                    # every row in the window was already consumed by
                    # the ann fold: writing an empty v=k dir would cost
                    # a write job now and a parquet max-scan in every
                    # later vacuum_consumed_events walk (ADVICE r11). The
                    # tail dirs still fold away — their rows' effect is
                    # physical in the ann index, and the readers'
                    # stale_through filter hides them regardless.
                    continue
            window.write.mode("overwrite").parquet(f"{out_dir}/{tree}_versions/v={k}")
        if folded_dirs:
            man = publish_fold(
                spark,
                root,
                {"version": k, "through_batch": through_batch},
                folded_dirs if prune_state else (),
            )
    if vacuum_events:
        vacuum_consumed_events(spark, out_dir)
    return man or {"version": 0, "through_batch": -1}


def _read_tree(
    spark: SparkSession, out_dir: str, tree: str, before_batch: int
) -> DataFrame | None:
    """Folded ``{tree}_versions`` (one root, ``v <= version`` partition
    filter — constant scan-branch count) ∪ the uncompacted
    ``{tree}/batch_id=N`` tail, anchored on the ``state`` manifest
    through :func:`streaming.state.anchored_read` (a concurrent
    compaction with ``prune_state`` cannot make the tail silently lose
    rows)."""
    fs = state_fs(spark, out_dir)
    cols = STATE_TREES[tree]
    man, tail = anchored_read(
        spark,
        f"{out_dir}/state",
        lambda after: read_prior_batches(
            spark, f"{out_dir}/{tree}", cols, before_batch, after_batch=after
        ),
    )
    if man and man["version"] > 0 and fs.is_dir(f"{out_dir}/{tree}_versions"):
        # memoized per manifest version (operators.cache.memo_df): the
        # folded tree is write-once below the watermark, and the eager
        # listing + schema inference of spark.read.parquet would
        # otherwise re-run every micro-batch (VERDICT r13 #1)
        ver = memo_df(
            spark,
            ("tree_versions", out_dir, tree, man["version"]),
            lambda: spark.read.parquet(f"{out_dir}/{tree}_versions"),
        )
        missing = [c for c in cols if c not in ver.columns]
        if missing:
            # fail with the actual story, not UNRESOLVED_COLUMN: a
            # pre-r11 fold dropped batch_id from the versions (the
            # event ordering and latest-row skip now require it) — the
            # folded rows carry no usable batch rank, so resuming on
            # them silently cannot be correct (r11 review)
            raise RuntimeError(
                f"{out_dir}/{tree}_versions lacks column(s) {missing}: "
                "folded by a pre-r11 compact_ingest_state, which did "
                "not retain batch_id. Re-ingest into a fresh out_dir "
                "(or migrate the folded versions) before resuming."
            )
        folded = ver.filter(F.col("v") <= man["version"]).select(*cols)
        return folded if tail is None else folded.unionByName(tail)
    return tail


def read_ingest_state(
    spark: SparkSession, out_dir: str, before_batch: int
) -> DataFrame | None:
    """The skip stage's view of processed docs: (doc_id, content_hash,
    vec_ids, batch_id) — the hash of the doc's LATEST row (by
    batch_id) drives the skip anti-join; ``vec_ids`` across ALL rows
    is the doc's chunk-vector history, consumed by
    :func:`supersede_events` when the doc is re-processed (the
    reference's page -> vector-ids manifest, ``Notion_openai_vector_etl.py``
    `save_manifest`, SURVEY §2.2 K4)."""
    return _read_tree(spark, out_dir, "state", before_batch)


def read_events(
    spark: SparkSession, out_dir: str, before_batch: int, after_batch: int = -1
) -> DataFrame | None:
    """``(vec_id, batch_id, live)`` events with ``after_batch <
    batch_id < before_batch`` (:func:`supersede_events`). Pass
    ``after_batch`` = the ann manifest's ``stale_through`` to see only
    events not yet consumed by physical reclamation. The filter is
    applied to the UNION, not just the tail enumeration: the state fold
    and the ann fold run on independent cadences, so a folded
    ``events_versions`` row can carry a batch_id on either side of the
    ann watermark. Below the watermark, history may already be vacuumed
    (:func:`vacuum_consumed_events`): a default read is a view of the
    SURVIVING events, not an audit log."""
    ev = _read_tree(spark, out_dir, "events", before_batch)
    if ev is None:
        return None
    return ev.filter(
        (F.col("batch_id") > after_batch) & (F.col("batch_id") < before_batch)
    )


def supersede_events(prior: DataFrame, fresh: DataFrame) -> DataFrame:
    """One batch's ``(vec_id, live)`` events. ``prior``: prior state
    rows ``(doc_id, vec_ids, batch_id)``, any superset of the docs this
    batch re-processes; ``fresh``: the ``(doc_id, vec_ids)`` state rows
    this batch writes (a flagged doc's ``vec_ids`` is empty, a skipped
    doc has no row and so no events).

    Per re-processed doc: vec_ids of its LATEST prior version that the
    new content does not regenerate -> ``live = false`` (the
    reference's stale-vector deletion, SURVEY §2.2 K4); vec_ids from
    ANY prior version the new content does regenerate -> ``live =
    true`` (a content revert regenerates the identical deterministic
    chunk ids, and the revive must outrank their earlier stale event).

    The stale side diffs against the LATEST version only (r12, the
    hot-update endurance variant caught this): older versions' vecs
    already carry a stale event from the update that retired them, and
    their newest event stays stale unless this batch revives them —
    re-staling the whole history each reprocess would grow per-update
    event volume with the doc's update depth. The revive side scans ALL
    versions: an A->B->A->B oscillation must revive B's vecs from two
    versions back.

    One aggregate over ``prior`` and one join on doc_id: over page
    checkpoints (operators.cache.checkpoint_page) neither shuffles."""
    versions = prior.groupBy("doc_id").agg(
        F.max(F.struct("batch_id", "vec_ids"))["vec_ids"].alias("latest"),
        F.flatten(F.collect_list("vec_ids")).alias("known"),
    )
    per_doc = versions.join(
        fresh.select("doc_id", F.col("vec_ids").alias("new")).hint("shuffle_hash"),
        "doc_id",
    )

    def tagged(ids, live: bool):
        return F.transform(ids, lambda v: F.struct(v.alias("vec_id"), F.lit(live).alias("live")))

    return per_doc.select(
        F.explode(
            F.concat(
                tagged(F.array_except("latest", "new"), False),
                tagged(F.array_intersect("known", "new"), True),
            )
        ).alias("e")
    ).select("e.vec_id", "e.live")


def _dead_vectors(events: DataFrame) -> DataFrame:
    """vec_ids whose newest event, ranked by ``(batch_id, live)``, has
    ``live = false`` (module docstring: a revive wins a tie at equal
    batch, the ordering that makes an A->B->A revert serve version A
    again)."""
    newest = events.groupBy("vec_id").agg(
        F.max(F.struct("batch_id", "live"))["live"].alias("live")
    )
    return newest.filter(~F.col("live")).select("vec_id")


def load_pipeline_ann_state(
    spark: SparkSession,
    out_dir: str,
    ivf_index_path: str,
    before_batch: int,
):
    """The composed pipeline's probe-ready ANN view: the ann_stream
    state (stored base ∪ committed deltas) MINUS the dead set — a
    vec_id is dead iff its newest unconsumed event is stale
    (:func:`_dead_vectors`). Events at or below the ann manifest's
    ``stale_through`` watermark were CONSUMED by
    :func:`compact_pipeline_ann_state` — their effect is already
    physical in the folded version (dead vectors reclaimed, duplicate
    revived copies collapsed), so the serve-time subtraction is
    bounded by the fold cadence, not the corpus's lifetime update
    count (VERDICT r10 #2; the reference deletes stale vector files
    outright, ``Notion_openai_vector_etl.py:609-614`` — engine batch
    twin of the delete-set computation:
    plans/incremental_queries.stale_detect).

    Unconsumed revive (``live``) events also mark the one transient
    duplication window: a revert physically re-adds chunks whose
    earlier copy may still sit in the folded/base trees. Those vec_ids
    (a churn-sized set) get a scoped full-row dedup; every other row
    passes through untouched — no index-wide shuffle on the serve
    path."""
    _reject_two_tree_layout(spark, out_dir)
    index, c_ids, c_mat = load_stream_ann_state(
        spark, f"{out_dir}/ann", ivf_index_path, before_batch
    )
    events = read_events(
        spark, out_dir, before_batch, after_batch=_stale_through(spark, out_dir)
    )
    if events is not None:
        index = index.join(_dead_vectors(events), "vec_id", "left_anti")
        dup_ids = events.filter("live").select("vec_id")
        index = index.join(dup_ids, "vec_id", "left_anti").unionByName(
            index.join(dup_ids, "vec_id", "left_semi").dropDuplicates(["vec_id"])
        )
    return index, c_ids, c_mat


def compact_pipeline_ann_state(
    spark: SparkSession,
    out_dir: str,
    through_batch: int,
    base_index_path: str,
    prune_deltas: bool = False,
    retain_versions: int | None = None,
    rebuild_centroids: bool = False,
    rebuild_sample_mod: int | None = None,
    vacuum_consumed: bool = True,
) -> dict | None:
    """The composed pipeline's ann compaction: fold the ``{out}/ann``
    delta tail through ``through_batch`` into the next index version
    with :func:`streaming.ann_stream.compact_ann_stream_state` — but
    CONSUME the event window on the way (VERDICT r10 #2):

    - the window's dead vec_ids (newest event at or below
      ``through_batch`` is stale) are physically EXCLUDED from the
      folded version — superseded document versions stop costing
      storage and probe rows, matching the reference's outright
      stale-file deletion (``Notion_openai_vector_etl.py:609-614``);
    - duplicate physical copies from reverts collapse
      (``dedup_rows`` — byte-identical by the pipeline's invariant,
      operators/similarity._drop_and_dedup);
    - the manifest's ``stale_through`` watermark advances to
      ``through_batch``: :func:`load_pipeline_ann_state` subtracts
      only events ABOVE it, so the served view is byte-identical
      before and after the fold while its subtraction list stays
      O(fold window).

    ``compact_ann_stream_state`` without ``events`` must NOT be pointed
    at a pipeline tree for reclamation (it folds verbatim and advances
    only ``through_batch``) — doing so is still CORRECT (events stay
    unconsumed and the serve path keeps subtracting them), just
    unreclaimed. With ``vacuum_consumed=True`` (default) the fold runs
    :func:`vacuum_consumed_events` itself once ``stale_through`` covers
    ``through_batch`` (VERDICT r11 #6): event VERSIONS fully below the
    new watermark delete here, at the moment they become history,
    instead of lingering until the next state fold's ``vacuum_events``
    pass (consumed rows in the un-folded batch TAIL still wait for the
    state fold+prune, as before); a replayed fold re-runs the
    idempotent vacuum, finishing one a crash cut short. The streaming
    wrapper wires this to its ``vacuum_events`` knob so a stream
    configured to KEEP event history keeps it everywhere."""

    def window_events(man: dict | None):
        after = (man or {}).get("stale_through", -1)
        events = read_events(spark, out_dir, through_batch + 1, after_batch=after)
        if events is None:
            return None, False
        # one job answers both questions (None on an empty window)
        stale, live = events.agg(F.max(~F.col("live")), F.max("live")).head()
        return (_dead_vectors(events) if stale else None), bool(live)

    man = compact_ann_stream_state(
        spark, f"{out_dir}/ann", through_batch, base_index_path,
        prune_deltas, retain_versions, rebuild_centroids, rebuild_sample_mod,
        events=window_events,
    )
    if vacuum_consumed and (man or {}).get("stale_through") == through_batch:
        # consumed event versions become pure history at the publish —
        # reclaim them now (idempotent, watermark-walk cheap) rather
        # than waiting for the next state fold's vacuum_events pass
        vacuum_consumed_events(spark, out_dir)
    return man


def streaming_ingest_etl(
    spark: SparkSession,
    source_path: str,
    corpus_path: str,
    lsh_index_path: str,
    ivf_index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    page_size: int = 100,
    pages_per_batch: int = 1,
    max_len: int = 400,
    compact_state_every: int | None = None,
    prune_state: bool = False,
    vacuum_events: bool = False,
    update_index: bool = True,
    compact_dedup_every: int | None = None,
    compact_dedup_prune: bool = False,
    compact_dedup_retain: int | None = None,
    compact_dedup_major_every: int | None = None,
    compact_dedup_major_rows: int | None = None,
    compact_ann_every: int | None = None,
    compact_ann_prune: bool = False,
    compact_ann_retain: int | None = None,
    rebuild_ann_every: int | None = None,
    rebuild_sample_mod: int | None = None,
    chain_policy: str = "sequential",
) -> StreamingQuery:
    """Start the composed crawl->skip->dedup->chunk->embed->index
    stream. Outputs under ``out_dir``: ``state/batch_id=N`` (processed
    (doc_id, content_hash, vec_ids) — the skip manifest, each row
    carrying the doc's chunk-vector list like the reference's
    page -> vector-ids manifest), ``flagged/ingest_batch=N``,
    ``clean/batch_id=N``, ``chunks/batch_id=N`` (the vec_id ->
    (chunk_id, doc_id, chunk_index) linkage), ``events/batch_id=N``
    (the ordered ``(vec_id, live)`` supersede/re-add events — module
    docstring), ``index_delta/batch_id=N`` (the clean docs' LSH
    buckets when ``update_index`` — intra-stream dedup), and
    ``ann/delta/batch_id=N/vectors`` (plain list_id-sorted files). An
    ``out_dir`` in the older two-tree event layout is rejected before
    the stream starts (:func:`_reject_two_tree_layout`).

    Compaction knobs, each an independent cadence over its own
    manifest: ``compact_state_every=K`` folds the skip-state and
    event tails (:func:`compact_ingest_state`; ``prune_state``
    deletes folded batch dirs; ``vacuum_events`` physically deletes
    event rows/versions the ann fold already consumed —
    :func:`vacuum_consumed_events`); ``compact_dedup_every=K`` folds the
    LSH deltas + clean docs through the dedup wing's
    :func:`~streaming.dedup_stream.compact_stream_state` (prune/retain
    via ``compact_dedup_prune``/``compact_dedup_retain``;
    ``compact_dedup_major_every=M`` upgrades every M-th dedup fold to
    the MAJOR corpus-rewrite + index-rebuild fold;
    ``compact_dedup_major_rows=N`` also upgrades a fold once the
    cumulative superseded sidecar passes N rows — the size trigger a
    hot-update workload needs, VERDICT r11 #5);
    ``compact_ann_every=K`` folds the ann deltas AND physically
    reclaims dead vectors (:func:`compact_pipeline_ann_state`;
    ``rebuild_ann_every=R`` upgrades every R-th ann fold to a centroid
    refresh). Each keeps its per-batch read O(K + versions) instead of
    O(stream age)."""
    _reject_two_tree_layout(spark, out_dir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        # each fold on its own cadence, before the empty-batch return
        # (streaming.state.fold_due)
        global _PROFILE_BID
        _PROFILE_BID = batch_id
        _t = time.perf_counter()
        if fold_due(batch_id, compact_state_every):
            compact_ingest_state(
                spark,
                out_dir,
                through_batch=batch_id - 1,
                prune_state=prune_state,
                vacuum_events=vacuum_events,
            )
        dedup_man = None
        if update_index and fold_due(batch_id, compact_dedup_every):
            dedup_man = compact_stream_state(
                spark,
                out_dir,
                through_batch=batch_id - 1,
                base_index_path=lsh_index_path,
                base_corpus_path=corpus_path,
                prune_deltas=compact_dedup_prune,
                retain_versions=compact_dedup_retain,
                major=upgrade_due(batch_id, compact_dedup_every, compact_dedup_major_every),
                auto_major_rows=compact_dedup_major_rows,
                num_hashes=num_hashes,
                bands=bands,
            )
        elif update_index:
            dedup_man = read_compaction_manifest(out_dir, spark)
        if fold_due(batch_id, compact_ann_every):
            compact_pipeline_ann_state(
                spark,
                out_dir,
                through_batch=batch_id - 1,
                base_index_path=ivf_index_path,
                prune_deltas=compact_ann_prune,
                retain_versions=compact_ann_retain,
                vacuum_consumed=vacuum_events,
                rebuild_centroids=upgrade_due(batch_id, compact_ann_every, rebuild_ann_every),
                rebuild_sample_mod=rebuild_sample_mod,
            )
        _t = _mark(batch_id, "folds", _t)
        # pin the micro-batch once, as a one-partition page frame: it
        # feeds the skip join AND the final state write — two
        # independent sink actions that would otherwise re-pull the
        # source frame. The pin's row count is the empty-batch test.
        batch, seen = checkpoint_page(
            batch.withColumn("content_hash", F.sha2(F.col("text"), 256)).coalesce(1)
        )
        if not seen["rows"]:
            return
        _t = _mark(batch_id, "pin_batch", _t)
        prior = read_ingest_state(spark, out_dir, batch_id)
        if prior is not None:
            # the prior state scoped to THIS batch's doc ids, pinned once
            # as a page checkpoint that the skip below and the event
            # diff both read: a broadcast semi-join (the micro-batch is
            # small by construction), so the state tree is scanned once
            # per batch and never shuffled (at 100 TB the difference)
            prior, scoped = checkpoint_page(
                prior.join(
                    F.broadcast(batch.select("doc_id").dropDuplicates()),
                    "doc_id",
                    "left_semi",
                )
            )
            if not scoped["rows"]:
                prior = None  # no doc of this batch was seen before
        todo = batch
        if prior is not None:
            # skip a doc only when its hash matches the doc's LATEST
            # state row (max batch_id; hash tie-breaks deterministically
            # — a doc_id appears at most once per batch) — the
            # reference compares the doc's CURRENT manifest entry
            # (:664/:704). Matching ANY prior row (the additive
            # ever-seen set) mis-skips an A->B->A revert: its
            # version-A vec_ids were staled when B superseded them,
            # so the doc would be served with B's embeddings forever
            # (ADVICE r10). Pinned: todo feeds the probe AND the state
            # write; unpinned, the anti-join would re-execute once per
            # downstream action.
            latest = prior.groupBy("doc_id").agg(
                F.max(F.struct("batch_id", "content_hash"))["content_hash"].alias(
                    "content_hash"
                )
            )
            todo, seen = checkpoint_page(
                batch.join(
                    latest.hint("shuffle_hash"), ["doc_id", "content_hash"], "left_anti"
                )
            )
            if not seen["rows"]:
                # every doc in this batch was skipped (a verbatim
                # re-feed): nothing to probe, chunk, or record. Writing
                # the empty artifacts anyway is not just waste — the
                # ann delta is a partitionBy write, and an empty
                # partitionBy dir has NO part files, so a later read of
                # the delta tree dies with UNABLE_TO_INFER_SCHEMA (r12
                # review lifecycle pin). Replay-safe: the skip decision
                # is a pure function of state below this batch, so a
                # crash-replay skips identically.
                return
        _t = _mark(batch_id, "skip", _t)
        # probe corpus ∪ committed stream state — the dedup wing's
        # exact read shape; without update_index, the stored base alone
        lsh_index, corpus_docs = dedup_anchor_view(
            spark,
            out_dir,
            anchor_manifest(dedup_man, lsh_index_path, corpus_path),
            batch_id if update_index else None,
        )
        # resolve the IVF anchor through the ann tree's compaction
        # manifest: after a rebuild_centroids fold on {out}/ann, the
        # published version carries a REFRESHED sidecar — assigning new
        # deltas against the stale base centroids would put list_ids on
        # them that the refreshed sidecar's probes never select (silent
        # recall collapse; the same rule ann_stream re-reads its anchor
        # per batch for)
        ann_anchor = ivf_anchor(
            read_compaction_manifest(f"{out_dir}/ann", spark), ivf_index_path
        )
        _t = _mark(batch_id, "anchor_load", _t)
        # intra_batch rides update_index: intra-stream dedup that
        # caught a pair split ACROSS batches but let the same pair
        # through when a page boundary happened to put both docs in
        # ONE micro-batch would make coverage depend on pagination
        # (r11 review) — the wing's intra stage closes exactly that
        staged = ingest_stage(
            spark,
            todo,
            corpus_docs,
            lsh_index,
            ann_anchor,
            threshold,
            num_hashes,
            bands,
            max_len,
            intra_batch=update_index,
            return_clean_buckets=update_index,
            chain_policy=chain_policy,
        )
        flagged, clean, chunks, assigned = staged[:4]
        _t = _mark(batch_id, "kernel", _t)
        # batch_id-keyed overwrites => replay-idempotent, same
        # discipline as both wings
        flagged.write.mode("overwrite").parquet(
            f"{out_dir}/flagged/ingest_batch={batch_id}"
        )
        clean.write.mode("overwrite").parquet(f"{out_dir}/clean/batch_id={batch_id}")
        chunks.write.mode("overwrite").parquet(
            f"{out_dir}/chunks/batch_id={batch_id}"
        )
        if update_index:
            # the clean docs' buckets come straight from the probe's
            # signature pass (checkpoint-backed, byte-identical to a
            # recompute) — later batches dedup against THIS batch
            staged[4].write.mode("overwrite").parquet(
                f"{out_dir}/index_delta/batch_id={batch_id}"
            )
        _t = _mark(batch_id, "write_outputs", _t)
        # fails LOUDLY before the state write if an out-of-band rebuild
        # moved the IVF anchor during the batch (write_ivf_delta)
        write_ivf_delta(
            spark, assigned, f"{out_dir}/ann", batch_id, ann_anchor, ivf_index_path
        )
        _t = _mark(batch_id, "write_ann", _t)
        # this batch's state rows: one per TODO doc (processed or
        # flagged — for those, an empty manifest means "nothing
        # serving", which is true), carrying the doc's chunk-vector
        # manifest, the new side of the event diff. A SKIPPED re-feed
        # gets no row: its empty vec_ids would become the doc's latest
        # state row, and the next real update's latest-version stale
        # diff would find nothing to stale (r12 review). todo and
        # chunks are page checkpoints, so the aggregate and the hash
        # join run in their one partition (a broadcast of the small
        # side would be a job of its own)
        fresh = (
            todo.select("doc_id", "content_hash")
            .join(
                chunks.groupBy("doc_id")
                .agg(F.collect_list("vec_id").alias("vec_ids"))
                .hint("shuffle_hash"),
                "doc_id",
                "left",
            )
            .withColumn(
                "vec_ids",
                F.coalesce(F.col("vec_ids"), F.array().cast("array<long>")),
            )
        )
        # one tagged event frame per batch (supersede_events). With no
        # prior state for this batch's docs (always on batch 0) there is
        # nothing to supersede: no event dir is written, and every event
        # reader treats a missing batch dir as a batch without events.
        if prior is not None:
            supersede_events(prior, fresh).write.mode("overwrite").parquet(
                f"{out_dir}/events/batch_id={batch_id}"
            )
        _t = _mark(batch_id, "events", _t)
        # state LAST: a crash before this point replays the batch with
        # the doc not yet marked processed (rewrite, idempotent); after
        # it, the epoch commit is the only step left
        fresh.write.mode("overwrite").parquet(f"{out_dir}/state/batch_id={batch_id}")
        _mark(batch_id, "write_state", _t)

    return foreach_page_batch(
        spark, source_path, page_size, pages_per_batch, checkpoint_dir, _process
    )


def batch_ingest_etl(
    spark: SparkSession,
    docs: DataFrame,
    corpus_path: str,
    lsh_index_path: str,
    ivf_index_path: str,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    max_len: int = 400,
    intra_batch: bool = False,
    chain_policy: str = "sequential",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The one-pass twin: the SAME stage composition over the whole
    input — the parity target the streaming run must equal batch-union
    for (no prior state; distinct incoming docs). Returns (flagged,
    clean, chunks, assigned) like :func:`ingest_stage`.
    ``intra_batch=True`` composes the stream's intra-stream dedup
    (``update_index``) semantics one-pass: the incoming set is also
    self-deduped, first-wins by id. ``chain_policy`` (shared with the
    stream, probe_batch docstring) governs chains; under the default
    "sequential" the twin's flagged/clean sets equal the stream's
    exactly, chains included."""
    lsh_index = load_lsh_index(spark, lsh_index_path)
    corpus_docs = spark.read.parquet(corpus_path).select("doc_id", "text")
    return ingest_stage(
        spark,
        docs,
        corpus_docs,
        lsh_index,
        ivf_index_path,
        threshold,
        num_hashes,
        bands,
        max_len,
        intra_batch=intra_batch,
        chain_policy=chain_policy,
    )
