"""Streaming vector ingest into a stored IVF index — the ANN twin of
the streaming ingest-dedup loop (streaming/dedup_stream.py), completing
the index LIFECYCLE symmetry between the text (LSH) and vector (IVF)
sides: stored base index → per-batch deltas → in-stream compaction
behind an atomic manifest.

Shape: a micro-batched stream of arriving embedding vectors (the
paginated source — pages of today's embedding job) is quantized and
assigned, per batch inside ``foreachBatch``, against the stored IVF
base index's OWN centroid sidecar (:func:`operators.similarity
.append_ivf_delta`'s kernel — one Arrow pass over the NEW vectors
only; the base is never recomputed, never rescanned) and written as a
``batch_id``-keyed delta of plain ``list_id``-SORTED files (one-ish
file per micro-batch — a partitionBy tree would write one near-empty
file per distinct list per batch, the small-files explosion at stream
age; consumers' literal ``isin`` list filters skip on row-group stats
instead, and the fold restores the partitioned layout for the
standing index). With
``compact_every=K``, every K-th batch folds committed deltas into the
next index version (:func:`operators.similarity.compact_ivf_index`)
and publishes an atomic manifest; consumers anchor on the manifest and
read only the delta TAIL, so probe-side state stays O(K deltas)
regardless of stream age — the same bounded-growth discipline proven
for the dedup stream (SCALE_SMOKE_R9.md §2), on the manifest, tail
read and fold protocol of the shared state core
(:mod:`streaming.state`). The reference anchor is the same: the
manifest is read once per run, not once per file
(Notion_openai_vector_etl.py:625 vs the per-file loop :678-739).

Exactly-once: each batch's only artifact is its ``batch_id=N`` delta
dir written with overwrite — a crash between the write and the epoch
commit replays the batch and the rewrite is byte-idempotent. Unlike
the dedup loop, per-batch work here reads NO other batch's artifacts,
so there is no self-probe hazard to bound; compaction at batch N still
folds through N-1 only (committed by construction) and re-triggering
on replay is an idempotent no-op.

Soundness: assignment is per-vector and centroid-relative, and every
delta (and every compacted version, whose sidecar is carried verbatim)
shares the base's centroids — so base ∪ deltas probes EXACTLY like a
full rebuild over the union with those centroids
(tests/test_stream_ann_ingest.py). Centroid drift under distribution
shift is the documented rebuild trigger (a new corpus version), not
anything this loop does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from notion_vector_store_etl_pipeline_spark.operators.cache import cache_scope
from notion_vector_store_etl_pipeline_spark.operators.similarity import (
    compact_ivf_index,
    load_ivf_sidecar,
    load_ivf_index_with_deltas,
    quantize_and_assign,
    rebuild_ivf_index,
)
from notion_vector_store_etl_pipeline_spark.operators.statefs import (
    batch_dirs,
    state_fs,
)
from notion_vector_store_etl_pipeline_spark.sources.paginated import foreach_page_batch
from notion_vector_store_etl_pipeline_spark.streaming.state import (
    anchored_read,
    fold_due,
    open_fold,
    publish_fold,
    read_compaction_manifest,
    upgrade_due,
    watermark,
)


def ivf_anchor(manifest: dict | None, base_index_path: str) -> str:
    """The IVF index a batch assigns and probes against: the published
    version, else the stored base."""
    return manifest["index_path"] if manifest else base_index_path


def load_stream_ann_state(
    spark: SparkSession,
    out_dir: str,
    base_index_path: str,
    before_batch: int,
):
    """The probe entry point for a consumer of the ingested index:
    anchor on the compaction manifest (compacted version if any, else
    the base) and union only the ``delta/batch_id=N`` TAIL above its
    watermark. ``before_batch`` is a strict upper bound — pass latest
    committed batch + 1 so a crashed attempt's orphan delta is never
    served. Returns ``(vectors, cent_ids, cent_mat)`` like
    :func:`operators.similarity.load_ivf_index`.

    Concurrent-compaction safety (ADVICE r9): the anchor and the tail
    come from :func:`streaming.state.anchored_read`, which re-reads the
    manifest after enumerating and retries if a compactor published
    (and possibly pruned the folded deltas) in between. A prune that
    lands after return, while the caller's probe is still running,
    fails LOUDLY — never silently — so ``prune_deltas=True`` with
    external concurrent probes trades retries/errors, not
    correctness."""
    fs = state_fs(spark, out_dir)
    man, deltas = anchored_read(
        spark,
        out_dir,
        lambda after: batch_dirs(fs, f"{out_dir}/delta", after, before_batch),
    )
    return load_ivf_index_with_deltas(spark, ivf_anchor(man, base_index_path), deltas)


def compact_ann_stream_state(
    spark: SparkSession,
    out_dir: str,
    through_batch: int,
    base_index_path: str,
    prune_deltas: bool = False,
    retain_versions: int | None = None,
    rebuild_centroids: bool = False,
    rebuild_sample_mod: int | None = None,
    events=None,
) -> dict | None:
    """Fold committed delta trees through ``through_batch`` into the
    next stored-index version, under the fold protocol of
    :mod:`streaming.state` — a covered window is a no-op.
    ``prune_deltas`` deletes the folded delta dirs, keeping the delta
    tree's listing bounded by compact_every instead of stream age.
    ``retain_versions=N`` vacuums index versions superseded by more
    than N compactions (each version contains everything its
    predecessors did — storage stays O(N x index), not O(stream age)).

    ``rebuild_centroids=True`` performs a centroid REFRESH instead of
    a plain fold: :func:`operators.similarity.rebuild_ivf_index`
    resamples centroids from base ∪ delta-tail and reassigns every
    vector, producing a version whose sidecar tracks the drifted
    distribution — the documented rebuild trigger for recall decay
    under distribution shift (VERDICT r9 missing #2). A rebuilt
    version's sidecar DIFFERS from its predecessors', which is exactly
    the point; consumers always probe a version against its own
    sidecar, so the swap is invisible to them.

    ``events(manifest)``, given by the composed pipeline's
    ``compact_pipeline_ann_state``, returns ``(drop_vec_ids,
    dedup_rows)`` for the window: vec_ids to reclaim physically
    (``None`` = no stale events) and whether revived copies need a
    duplicate-row collapse. A window with stale events folds even
    without deltas, and the published manifest records
    ``stale_through``."""
    man, k = open_fold(spark, out_dir, through_batch)
    if k is None:
        return man
    deltas = batch_dirs(
        state_fs(spark, out_dir), f"{out_dir}/delta", watermark(man), through_batch + 1
    )
    drop, dedup_rows = events(man) if events else (None, False)
    if not deltas and not rebuild_centroids and drop is None:
        return man
    base = ivf_anchor(man, base_index_path)
    out_path = f"{out_dir}/index_versions/v{k}"
    kw = dict(drop_vec_ids=drop, dedup_rows=dedup_rows)
    if rebuild_centroids:
        rebuild_ivf_index(spark, base, deltas, out_path, sample_mod=rebuild_sample_mod, **kw)
    else:
        compact_ivf_index(spark, base, deltas, out_path, **kw)
    manifest = {
        "version": k,
        "index_path": out_path,
        "through_batch": through_batch,
        "centroids": "refreshed" if rebuild_centroids else "carried",
    }
    if events:
        manifest["stale_through"] = through_batch
    return publish_fold(
        spark, out_dir, manifest, deltas if prune_deltas else (), retain_versions
    )


def write_ivf_delta(
    spark: SparkSession,
    assigned: DataFrame,
    out_dir: str,
    batch_id: int,
    anchor: str,
    base_index_path: str,
) -> None:
    """Write a micro-batch's assigned vectors as ``delta/batch_id=N``,
    then re-validate the IVF anchor they were assigned against.

    batch_id-keyed overwrite => replay-idempotent (exactly-once). Plain
    SORTED files, not partitionBy(list_id) (VERDICT r13 #1): a
    micro-batch delta under partitionBy writes one near-empty file PER
    DISTINCT LIST (~1.7 s/batch of file-commit overhead measured at 100
    rows, and the classic small-files explosion at 100 TB stream ages).
    list_id stays a sorted data column — the probe's literal isin()
    filter skips on row-group stats, and the broadcast-semi paths never
    partition-pruned deltas anyway — and the fold restores the
    list_id-partitioned layout for the standing index. A micro-batch's
    delta is page-bounded, so it is written as ONE file sorted in
    place: no shuffle, one job.

    Writer-side anchor re-validation (r10 review): an OUT-OF-BAND
    centroid rebuild racing this batch could publish a refreshed-sidecar
    version between the caller's anchor read and the delta landing —
    the delta's list_ids would then sit ABOVE the new watermark but come
    from the OLD centroids, and the next fold would make the
    inconsistency permanent. Fail LOUDLY instead: the stream's restart
    replays the batch from the checkpoint against the new anchor (the
    overwrite is idempotent). In-process folds are sequential and never
    race."""
    assigned.coalesce(1).sortWithinPartitions("list_id").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/delta/batch_id={batch_id}/vectors")
    now = ivf_anchor(read_compaction_manifest(out_dir, spark), base_index_path)
    if now != anchor:
        raise RuntimeError(
            f"ingest batch {batch_id} into {out_dir}: IVF anchor changed "
            f"{anchor!r} -> {now!r} during the batch (concurrent external "
            "rebuild) — restart the stream to replay this batch against the "
            "current sidecar"
        )


def probe_vector_batch(
    batch: DataFrame,
    corpus_vectors: DataFrame,
    cent_ids,
    cent_mat,
    threshold: float,
    probes: int = 2,
    intra_batch: bool = True,
    chain_policy: str = "sequential",
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> tuple[DataFrame, DataFrame]:
    """One embedding-side ingest-dedup step — the cosine twin of the
    text wing's :func:`streaming.dedup_stream.probe_batch`, sharing the
    SAME ``chain_policy`` contract (``operators.dedup.CHAIN_POLICIES``,
    VERDICT r12 #6): probe ``batch`` (``id_col``, ``emb_col``) against
    the standing ``corpus_vectors`` through shared IVF lists, then
    resolve intra-batch chains. Returns ``(flagged, clean)``: flagged
    is (batch_id, corpus_id, score) with score = exact cosine; clean is
    the batch rows with no flagged pair.

    The pagination-invariance argument is identical to the text side: a
    planted chain A~B~C (A~B and B~C verify, A~C does not) must resolve
    the same whether it arrives one vector per micro-batch (B flags
    against the already-ingested A; C then probes a corpus whose only
    B is gone, so C stays clean) or all in one batch — which is exactly
    what ``chain_policy="sequential"`` computes via
    :func:`operators.dedup.sequential_firstwins_pairs` over the
    verified intra-batch cosine pairs. "conservative" flags the higher
    id of every verified pair (stricter removal, disposition depends
    on batch boundaries). Pinned in tests/test_chain_policy_embedding.py.

    Scale shape: the corpus side is NEVER rescanned wholesale — only
    members of lists the batch actually probes participate (broadcast
    semi on the batch's probed list set; over a stored list_id-
    partitioned tree that is partition pruning), and the verify is the
    bounded bipartite kernel (:func:`operators.similarity
    ._bipartite_list_probe`, hot lists block-split). ``corpus_vectors``
    may arrive pre-assigned (a ``list_id`` column — the stored-index
    path, zero corpus-side assignment work) or bare (assigned here
    top-1, the fresh path). A corpus id also present in the batch is an
    UPDATE (re-embed), not a duplicate: batch wins, same-id pairs are
    excluded — mirroring the text probe's universe rule.
    """
    from notion_vector_store_etl_pipeline_spark.operators.dedup import (
        CHAIN_POLICIES,
        sequential_firstwins_pairs,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        _bipartite_list_probe,
        cosine_selfjoin_pairs,
        nearest_lists,
    )

    if chain_policy not in CHAIN_POLICIES:
        raise ValueError(
            f"chain_policy must be one of {CHAIN_POLICIES}, got {chain_policy!r}"
        )
    batch0 = batch  # original columns: clean is returned in this shape
    batch = batch.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("emb"))
    # assign the batch once and pin it: it feeds the probed-list semi
    # filter, the union's batch branch, and the kernel's block-count
    # join (micro-batch-sized frame, same contract as the text probe).
    # The other two pins are taken on their paths only; the scope
    # releases whichever were taken, whatever the call raises.
    with cache_scope() as c:
        batch_asg = c.persist(
            nearest_lists(batch, cent_ids, cent_mat, probes, id_col="vec_id", emb_col="emb")
            .select("vec_id", "emb", F.lit(True).alias("_is_batch"), "list_id")
        )
        corpus = corpus_vectors
        fresh_assign = "list_id" not in corpus.columns
        if fresh_assign:
            corpus = nearest_lists(
                corpus, cent_ids, cent_mat, 1, id_col=id_col, emb_col=emb_col
            )
        corpus_side = (
            corpus.select(
                F.col(id_col).alias("vec_id"),
                F.col(emb_col).alias("emb"),
                F.lit(False).alias("_is_batch"),
                "list_id",
            )
            # same-id exclusion: a re-embedded id collides with its own
            # old entry — that is an update passing through, not a
            # near-dup
            .join(batch.select("vec_id"), "vec_id", "left_anti")
            # only lists the batch probes are read (pruned scan when the
            # corpus is a stored list_id-partitioned tree)
            .join(F.broadcast(batch_asg.select("list_id").distinct()), "list_id", "left_semi")
            .select("vec_id", "emb", "_is_batch", "list_id")
        )
        if fresh_assign:
            # Fresh-assigned corpus (the one-pass batch twin, never the
            # stream's stored-tree path): the probe kernel's block-count
            # aggregate and its replicated join branch are two consumers
            # of one action, and mapInPandas is opaque to column pruning
            # — so un-persisted, the corpus assignment GEMM runs twice
            # (r14; guide §1.2). Eager so the branches can't race the
            # cache. The stored path stays un-persisted on purpose: there
            # the count branch reads only the list_id partition column,
            # which is cheaper than materializing the vectors.
            corpus_side = c.persist(corpus_side, eager=True)
        flagged = _bipartite_list_probe(
            corpus_side.unionByName(batch_asg.select(*corpus_side.columns)),
            threshold,
            "vec_id",
            "emb",
        ).localCheckpoint(eager=True)

        if intra_batch:
            survivors = c.persist(
                batch.join(
                    flagged.select(F.col("batch_id").alias("vec_id")), "vec_id", "left_anti"
                )
            )
            # micro-batch-sized: fixed small block count, no auto-sizing
            # count() job per batch
            intra_pairs = cosine_selfjoin_pairs(
                survivors, threshold, id_col="vec_id", emb_col="emb", n_blocks=8
            )
            if chain_policy == "sequential":
                intra_pairs = sequential_firstwins_pairs(intra_pairs)
            intra = intra_pairs.select(
                F.col("b_id").alias("batch_id"), F.col("a_id").alias("corpus_id"), "score"
            )
            flagged = flagged.unionByName(intra).localCheckpoint(eager=True)
    clean = batch0.join(
        flagged.select(F.col("batch_id").alias(id_col)).dropDuplicates(),
        id_col,
        "left_anti",
    )
    return flagged, clean


def streaming_vector_ingest(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    page_size: int = 1000,
    pages_per_batch: int = 1,
    compact_every: int | None = None,
    prune_deltas: bool = False,
    retain_versions: int | None = None,
    rebuild_every: int | None = None,
    rebuild_sample_mod: int | None = None,
    dedup_threshold: float | None = None,
    dedup_probes: int = 2,
    chain_policy: str = "sequential",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> StreamingQuery:
    """Start the streaming vector-ingest query.

    ``source_path``: parquet of arriving vectors (``id_col``,
    ``emb_col``) streamed page-by-page through the paginated source
    (offsets = cursor, resume owned by the checkpoint). ``index_path``:
    the stored IVF base index whose centroid sidecar defines every
    assignment. Outputs under ``out_dir``: ``delta/batch_id=N`` (the
    arriving vectors' codes+norms+assignment, list_id-sorted) and,
    with ``compact_every``, ``index_versions/v<k>`` + the manifest.
    ``retain_versions=N`` vacuums superseded index versions after each
    compaction. ``rebuild_every=R`` upgrades every R-th compaction
    boundary to a centroid REFRESH (resample + full reassignment, see
    :func:`compact_ann_stream_state`) — the periodic drift correction;
    batches after a rebuild assign against the REFRESHED sidecar, so
    an ingest stream whose distribution shifted stops crowding into
    the old centroids' lists.

    ``dedup_threshold`` (VERDICT r12 #6) turns the loop into the
    embedding-side INGEST-DEDUP stream — the IVF twin of
    :func:`streaming.dedup_stream.streaming_dedup_ingest`: each batch
    probes the committed state via :func:`probe_vector_batch` before
    ingesting, flagged near-dup pairs land in ``flagged/ingest_batch=N``
    (replay-idempotent overwrite), and only clean survivors enter the
    delta tree. ``chain_policy`` (shared with the text wing,
    ``operators.dedup.CHAIN_POLICIES``) governs intra-batch chains,
    making the flagged/clean disposition invariant to where pagination
    splits a chain under the default "sequential"."""
    from notion_vector_store_etl_pipeline_spark.functions import vectors as V

    def _process(batch: DataFrame, batch_id: int) -> None:
        # fold before the empty-batch return (streaming.state.fold_due)
        if fold_due(batch_id, compact_every):
            compact_ann_stream_state(
                spark,
                out_dir,
                through_batch=batch_id - 1,
                base_index_path=index_path,
                prune_deltas=prune_deltas,
                retain_versions=retain_versions,
                rebuild_centroids=upgrade_due(batch_id, compact_every, rebuild_every),
                rebuild_sample_mod=rebuild_sample_mod,
            )
        if batch.isEmpty():
            return
        anchor = ivf_anchor(read_compaction_manifest(out_dir, spark), index_path)
        # The sidecar MUST be re-read from the current anchor every
        # batch: a rebuild_centroids compaction publishes a version
        # whose sidecar deliberately DIFFERS (refreshed centroids).
        # Caching c_ids/c_mat across batches BY ANCHOR IDENTITY would
        # assign post-rebuild arrivals against the old centroids —
        # delta list_ids inconsistent with the sidecar they are probed
        # under, a silent recall corruption. load_ivf_sidecar's memo is
        # instead gated on the sidecar dir's file snapshot, so a
        # refreshed sidecar (new version path, or any rewrite) re-reads
        # while an unchanged anchor costs nothing (VERDICT r13 #1).
        c_ids, c_mat = load_ivf_sidecar(spark, anchor)
        vecs = batch.select(
            F.col(id_col).alias("vec_id"), V.as_double(emb_col).alias("emb")
        )
        if dedup_threshold is not None:
            # ingest-dedup (VERDICT r12 #6): probe the arrivals against
            # the committed state (base ∪ delta tail STRICTLY below this
            # batch — a replay probes the identical corpus, and a batch
            # never sees its own artifacts), flag near-dups, ingest only
            # the clean survivors. Chain disposition across batch
            # boundaries is governed by the shared chain_policy — the
            # same pagination-invariance contract as the text wing.
            state_vecs, s_ids, s_mat = load_stream_ann_state(
                spark, out_dir, index_path, before_batch=batch_id
            )
            flagged, clean = probe_vector_batch(
                vecs,
                state_vecs.select("vec_id", "emb", "list_id"),
                s_ids,
                s_mat,
                dedup_threshold,
                probes=dedup_probes,
                chain_policy=chain_policy,
            )
            # ingest_batch-keyed overwrite => replay-idempotent ledger
            # (ingest_batch, not batch_id: the pair schema's batch_id
            # column must not collide with the partition dir key — same
            # naming as the text wing's ledger)
            flagged.write.mode("overwrite").parquet(
                f"{out_dir}/flagged/ingest_batch={batch_id}"
            )
            vecs = clean
            # a fully-flagged batch ingests nothing: skip the delta
            # write entirely (a partitionBy write of an EMPTY frame
            # leaves a dir with no parquet files, which would fail the
            # next batch's state read). Replay-safe: the probe is
            # deterministic over the committed state, so a replayed
            # batch makes the same skip decision.
            if vecs.isEmpty():
                return
        delta = quantize_and_assign(
            vecs, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"
        )
        write_ivf_delta(spark, delta, out_dir, batch_id, anchor, index_path)

    return foreach_page_batch(
        spark, source_path, page_size, pages_per_batch, checkpoint_dir, _process
    )
