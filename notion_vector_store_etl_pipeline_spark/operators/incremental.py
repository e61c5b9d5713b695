"""Incremental-state engine (SURVEY.md §4 row 1, §7 phase 2) — the one
genuinely custom piece of the reference: skip-unchanged / re-vectorize /
delete-stale planning over a keyed state table (the "manifest",
`Notion_openai_vector_etl.py:684-731`), re-expressed as joins.

Semantics mirrored:
- cache-hit skip (`:691-694`): skip iff a state entry exists AND
  last_edited_time is unchanged AND it already has vector file ids;
- needs-vector (`:702-706`): re-vectorize iff no vector ids OR content
  hash changed OR edit time changed;
- stale-vector delete set (`:609-614`): ids held by entries being
  re-vectorized.

All comparisons are null-safe (``eqNullSafe``) because either side can
be absent — the reference's ``.get(..., default)`` tolerance (§1.3).

Scale notes: state is keyed by block_id; the snapshot⋈state join is a
plain equi join — broadcast while the state is small, sort-merge (or
bucketed storage co-location) at 100 TB. The expensive downstream
stages (download/extract/embed UDFs) run only on ``to_process``, i.e.
the filter is ordered before the UDFs, which is the whole optimization.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATE_COLUMNS = ("block_id", "prior_let", "prior_hash", "vector_file_ids")


def _n_ids(col: Column) -> Column:
    return F.when(col.isNull(), F.lit(0)).otherwise(F.size(col))


@dataclass
class IncrementPlan:
    joined: DataFrame      # snapshot left-joined to state
    to_process: DataFrame  # new or changed rows
    to_skip: DataFrame     # cache hits
    needs_vector: DataFrame  # rows with needs_vector flag
    stale_vectors: DataFrame  # (block_id, stale_vector_id) to delete


def plan_increment(snapshot: DataFrame, state: DataFrame) -> IncrementPlan:
    """snapshot: (block_id, let, content_hash, ...); state: STATE_COLUMNS."""
    # State presence is detected via a constant marker, NOT
    # ``prior_hash.isNotNull()``: the hash column is typically an
    # expensive derivation (sha2 over full document text), and probing
    # it for NULL would force its computation even for outputs that
    # never read it (``to_process``/``to_skip``). With the marker,
    # Catalyst prunes hash + text out of both scans for the cache-hit
    # path — the reference's skip test (`:691-694`) likewise never
    # touches the content hash. Matches the oracle's
    # ``t.block_id IS NOT NULL`` presence semantics exactly.
    joined = snapshot.join(
        state.withColumn("_state_present", F.lit(True)), "block_id", "left_outer"
    )

    has_state = F.col("_state_present").eqNullSafe(F.lit(True))
    let_unchanged = F.col("prior_let").eqNullSafe(F.col("let"))
    has_ids = _n_ids(F.col("vector_file_ids")) > 0

    # cache hit (`:691-694`)
    skip = has_state & let_unchanged & has_ids
    # needs re-vectorization (`:702-706`); rows without state always need it
    needs = (
        ~has_state
        | ~has_ids
        | ~F.col("prior_hash").eqNullSafe(F.col("content_hash"))
        | ~let_unchanged
    )

    # the marker is an implementation detail — drop it from every
    # returned frame once the flags are computed, so it can't leak into
    # chunk sinks (JSONL serializes every column) or collide with a
    # caller's own column of the same name
    flagged = (
        joined.withColumn("to_skip", skip)
        .withColumn("needs_vector", needs)
        .drop("_state_present")
    )
    joined = joined.drop("_state_present")
    to_process = flagged.filter(~F.col("to_skip"))
    to_skip = flagged.filter(F.col("to_skip"))
    # stale deletes are scoped to rows actually being RE-VECTORIZED:
    # the reference's cache-hit check (`:691-694`) returns before the
    # needs-vector branch, so a skipped row (let unchanged + has ids)
    # NEVER deletes its live vectors — even when its stored hash
    # differs. Deriving the set from `to_process` keeps such a row out
    # (it would otherwise land in to_skip, keeping its ids in state, AND
    # in the delete set: a permanently dangling document), and lets a
    # caller that persists `to_process` count the set from that cache
    # instead of re-running the join.
    stale = (
        to_process.filter(
            F.col("needs_vector") & (_n_ids(F.col("vector_file_ids")) > 0)
        )
        .select("block_id", F.explode("vector_file_ids").alias("stale_vector_id"))
    )
    return IncrementPlan(
        joined=joined,
        to_process=to_process,
        to_skip=to_skip,
        needs_vector=flagged,
        stale_vectors=stale,
    )


def _state_siblings(fs, path: str, marker: str) -> list[str]:
    """``{path}{marker}*`` sibling dirs via one parent listing (the
    shim-portable form of the old ``glob``)."""
    parent, _, base = path.rpartition("/")
    parent = parent or "."
    try:
        names = fs.list_names(parent)
    except Exception:
        return []  # parent dir doesn't exist yet
    return [f"{parent}/{n}" for n in names if n.startswith(base + marker)]


def recover_state(path: str, fs=None, spark=None) -> bool:
    """Restore the newest ``.old-*`` backup if ``path`` itself is gone.

    A crash between ``commit_state``'s two swap renames leaves no state
    at ``path`` while the previous state is still alive as a ``.old-*``
    sibling. Call this before reading state at startup (``commit_state``
    also calls it). Returns True if a backup was restored. A scheme'd
    ``path`` needs ``spark`` (or a prebuilt ``fs``) for Hadoop FS IO.
    """
    from notion_vector_store_etl_pipeline_spark.operators.statefs import state_fs

    fs = fs or state_fs(spark, path)
    if fs.exists(path):
        return False
    olds = sorted(_state_siblings(fs, path, ".old-"), key=fs.mtime)
    if not olds:
        return False
    fs.rename(olds[-1], path)
    return True


def commit_state(new_state: DataFrame, path: str) -> None:
    """Crash-resumable state commit: write to a temp dir, then swap.

    The reference saves the manifest after every file (`:731`); in Spark
    the unit of commit is the batch. The write goes to a sibling temp
    dir first and is swapped in afterwards, for two reasons: (a) the
    ``new_state`` plan typically still READS the current state at
    ``path`` (lazy evaluation — a direct overwrite races the read it
    depends on), and (b) at no point is the previous state's ONLY copy
    being deleted while the new one is incomplete (the resume
    guarantee): a crash anywhere leaves either ``path`` or a ``.old-*``
    sibling intact, and :func:`recover_state` restores the latter.

    One protocol for every storage scheme, routed through the
    ``statefs`` shim (an in-place overwrite-from-localCheckpoint on the
    ``://`` branch used to delete the only copy before the new write
    was durable — executor loss mid-write meant total state loss). On
    rename-capable schemes the two swap renames are metadata ops; on
    object stores rename is copy+delete — slower and non-atomic, but
    the previous state still survives as ``.old-*`` until the new state
    is fully in place, which is the property that matters. State tables
    are small (one row per document, no text); on a real deployment
    this would be a Delta/Iceberg MERGE for true atomicity.
    """
    import uuid

    from notion_vector_store_etl_pipeline_spark.operators.statefs import (
        path_scheme,
        state_fs,
    )

    fs = state_fs(new_state.sparkSession if path_scheme(path) else None, path)
    # a prior crash between the two swap renames leaves `path` missing
    # but the last good state alive as `.old-*` — restore it first
    recover_state(path, fs=fs)
    # tmp droppings from crashed writes are safe to clear now; `.old-*`
    # backups are NOT: they are deleted only after the new state is
    # durably swapped in below
    for stale in _state_siblings(fs, path, ".tmp-"):
        fs.delete_recursive(stale)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    new_state.write.mode("overwrite").parquet(tmp)  # fully materialized here
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if fs.exists(path):
        fs.rename(path, old)
    # (a crash in the two-syscall gap here is what recover_state undoes
    # on the next run)
    fs.rename(tmp, path)
    for stale in _state_siblings(fs, path, ".old-"):
        fs.delete_recursive(stale)


def upsert_state(state: DataFrame, processed: DataFrame) -> DataFrame:
    """Next-state = processed entries replacing their old rows, plus
    untouched old rows (the manifest upsert, `:719-730`)."""
    untouched = state.join(processed, "block_id", "left_anti")
    return untouched.unionByName(processed.select(*STATE_COLUMNS))


def refresh_rollup(
    rollup: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sums: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Incremental view maintenance for a sum/count rollup (the
    continuous-aggregate / hypertable-rollup pattern): fold a DELTA of
    base rows into an existing materialized rollup without touching
    the unchanged groups' base data.

    ``rollup`` holds (keys..., sums..., count); ``delta`` holds raw
    base rows with the same key/value columns. Retractions are just
    delta rows with negative values and ``count_col`` = -1 per
    retracted row (the standard Z-set trick), so updates = retract +
    insert. Groups whose count drops to 0 disappear.

    At 100 TB this is the difference between re-aggregating the world
    and shuffling only the delta: the delta aggregates map-side to one
    row per touched group, the outer join against the rollup is
    key-partitioned, and untouched groups pass through untouched
    (avg/min/max need auxiliary state; sums and counts compose).
    """
    from pyspark.sql import functions as F

    if count_col not in delta.columns:
        # no silent F.count fallback: it would count a RETRACTION row
        # (negative values, per the Z-set protocol above) as +1, so the
        # group's count drifts up while its sums cancel — groups that
        # should vanish at count 0 never do. Insert-only callers add
        # the column explicitly: delta.withColumn(count_col, F.lit(1)).
        raise ValueError(
            f"refresh_rollup: delta is missing the count column "
            f"{count_col!r} — required so retraction rows (count -1) are "
            "distinguishable from inserts; for insert-only deltas add "
            f"withColumn({count_col!r}, lit(1))"
        )
    d = delta.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sums],
        F.sum(count_col).alias(count_col),
    )
    r = rollup
    merged = r.alias("r").join(d.alias("d"), keys, "full_outer").select(
        *[F.coalesce(F.col(f"r.{k}"), F.col(f"d.{k}")).alias(k) for k in keys],
        *[
            (
                F.coalesce(F.col(f"r.{c}"), F.lit(0)) + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
            for c in sums
        ],
        (
            F.coalesce(F.col(f"r.{count_col}"), F.lit(0))
            + F.coalesce(F.col(f"d.{count_col}"), F.lit(0))
        ).alias(count_col),
    )
    return merged.filter(F.col(count_col) > 0)
