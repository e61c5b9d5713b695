"""The versioned-state core the three streams share: one
manifest-anchored table per state root.

A root ``R`` holds per-batch trees (``R/<tree>/batch_id=N``), folded
versions, and ONE manifest at ``R/_compaction/manifest.json`` whose
``through_batch`` is the fold watermark: batches at or below it live in
the published version and must not be re-read from the batch trees. The
reference keeps its incremental state the same way — one manifest,
loaded once per run and saved after each unit of work
(Notion_openai_vector_etl.py:190-215, :625, :731).

What each stream module supplies is only its schema and its version
writer. The protocol is here, written once:

- where the manifest lives, how it is read and published
  (:func:`read_compaction_manifest`, :func:`write_manifest`);
- the bounded ``batch_id=N`` tail read (:func:`read_prior_batches`);
- the re-read-after-enumerate retry loop that keeps readers sound
  against a concurrent prune (:func:`anchored_read`);
- the fold order (:func:`open_fold`, then the caller's version writes,
  then :func:`publish_fold`): a watermark that already covers the window
  is a no-op, the next version is ``k + 1``, the version is written,
  THEN the manifest publishes, THEN folded batch dirs are pruned, THEN
  superseded index versions are vacuumed. A crash before the publish
  leaves an orphan version dir that readers' ``v <= version`` filters
  hide and the retried fold overwrites; every step after it only
  deletes what the published manifest already made unreachable, and is
  idempotent on replay;
- the fold cadence of the streaming loops (:func:`fold_due`,
  :func:`upgrade_due`).

All small-state IO routes through :mod:`operators.statefs`, so a
scheme'd root (``s3a://…``) works — or fails loudly — instead of
silently seeing no state.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from notion_vector_store_etl_pipeline_spark.operators.statefs import (
    batch_dirs,
    read_json,
    state_fs,
    write_json_atomic,
)

#: attempts :func:`anchored_read` makes before giving up on a racing compactor
READ_ATTEMPTS = 5


def state_file(root: str, name: str = "manifest.json") -> str:
    """Path of the small-state JSON file ``name`` (by default the
    manifest) of state root ``root``."""
    return f"{root}/_compaction/{name}"


def read_compaction_manifest(root: str, spark: SparkSession | None = None) -> dict | None:
    """The manifest of state root ``root``, or ``None`` before the first
    fold: ``version`` (k), ``through_batch`` (the watermark) and the
    stream's own anchor keys (index path, corpus base and floor,
    centroid and event watermarks). A scheme'd ``root`` (``s3a://…``)
    needs ``spark``; a present-but-corrupt manifest raises."""
    return read_json(state_fs(spark, root), state_file(root))


def write_manifest(root: str, manifest: dict, spark: SparkSession | None = None) -> None:
    """Atomically publish ``manifest`` as the manifest of ``root``."""
    write_json_atomic(state_fs(spark, root), state_file(root), manifest)


def watermark(manifest: dict | None) -> int:
    """The manifest's ``through_batch``; -1 before any fold."""
    return manifest["through_batch"] if manifest else -1


def read_prior_batches(
    spark: SparkSession,
    path: str,
    columns: list[str],
    before_batch: int,
    after_batch: int = -1,
) -> DataFrame | None:
    """Read a ``batch_id=N``-partitioned output dir, keeping only rows
    from batches in ``(after_batch, before_batch)``. The strict upper
    bound is what makes replays idempotent: a crash after this batch's
    own artifacts were written but before the epoch commit replays the
    batch, and without the bound the replay would find the crashed
    attempt's own index delta / clean docs and probe the batch against
    itself, flagging every doc as its own duplicate. The lower bound
    excludes batches already folded into a compacted version (the
    manifest's ``through_batch``) so the tail read stays O(batches
    since last compaction), not O(stream age).

    The matching dirs are enumerated HERE and passed to the reader
    explicitly (with ``basePath`` so ``batch_id`` stays a column):
    ``spark.read.parquet(root)`` would bound the data via partition
    pruning but still FILE-LIST every ``batch_id=`` leaf ever written
    — a per-batch cost that grows with stream age (measured: the
    compacted 80-batch sf1 series drifted 3.2 -> 4.5 s/batch from
    listing alone, after compaction had already bounded the data
    read). Enumeration goes through :func:`operators.statefs.batch_dirs`:
    with a compaction watermark the tail dirs are CONSTRUCTED from the
    contiguous epoch range and existence-checked (O(tail) point
    lookups, correct on object-store roots); before any compaction, one
    root listing."""
    dirs = batch_dirs(state_fs(spark, path), path, after_batch, before_batch)
    if not dirs:
        return None
    return spark.read.option("basePath", path).parquet(*dirs).select(*columns)


def anchored_read(
    spark: SparkSession, root: str, read_tail: Callable[[int], object]
) -> tuple[dict | None, object]:
    """Anchor on ``root``'s manifest and read the tail above its
    watermark: returns ``(manifest, read_tail(watermark))``.

    A compactor that publishes a new manifest and then PRUNES the
    folded batch dirs between the manifest read and the tail
    enumeration would make the reader silently drop those batches. The
    manifest is therefore re-read AFTER enumerating; if the watermark
    advanced, the anchor is stale and the read retries against the new
    version. A prune that lands after return, while the caller's scan
    is still running, fails LOUDLY (the scan's file list no longer
    exists), never silently. In-process callers (the ``foreachBatch``
    loops) are sequential and take one pass."""
    for _ in range(READ_ATTEMPTS):
        man = read_compaction_manifest(root, spark)
        tail = read_tail(watermark(man))
        if watermark(read_compaction_manifest(root, spark)) == watermark(man):
            return man, tail
    raise RuntimeError(
        f"compaction watermark of {root} kept advancing across {READ_ATTEMPTS} "
        "read attempts — a compactor is racing this reader faster than it can anchor"
    )


def open_fold(
    spark: SparkSession, root: str, through_batch: int
) -> tuple[dict | None, int | None]:
    """First step of a fold through ``through_batch`` (committed
    batches only): the current manifest and the version ``k`` this fold
    would publish — ``k = None`` when the watermark already covers
    ``through_batch``, so a re-triggered fold is a no-op."""
    man = read_compaction_manifest(root, spark)
    if through_batch <= watermark(man):
        return man, None
    return man, (man["version"] + 1 if man else 1)


def publish_fold(
    spark: SparkSession,
    root: str,
    manifest: dict,
    folded_dirs: list[str] | tuple = (),
    retain_versions: int | None = None,
) -> dict:
    """Last step of a fold whose version is written: publish
    ``manifest``, then delete ``folded_dirs`` (batch dirs whose rows the
    version now holds; pass none to keep them), then vacuum index
    versions superseded by more than ``retain_versions`` folds
    (:func:`vacuum_index_versions`). Returns ``manifest``."""
    write_manifest(root, manifest, spark)
    fs = state_fs(spark, root)
    for d in folded_dirs:
        fs.delete_recursive(d)
    if retain_versions is not None:
        vacuum_index_versions(spark, root, manifest["version"], retain_versions)
    return manifest


def vacuum_index_versions(
    spark: SparkSession,
    out_dir: str,
    current_version: int,
    retain_versions: int,
) -> list[int]:
    """Delete superseded index versions ``j <= current_version -
    retain_versions`` under ``{out_dir}/index_versions`` (each index
    version contains everything its predecessors did — only the
    manifest-published latest is ever probed; retention > 1 keeps a
    rollback margin). Crash-safe by construction: only versions
    strictly below the already-published manifest are touched, and
    re-running is an idempotent no-op. Returns the vacuumed version
    numbers.

    A ``_compaction/vacuum.json`` watermark records the highest
    version already vacuumed, so each call probes only the versions
    ADDED since the last vacuum — without it every compaction would
    re-issue exists() for every version ever retired, an O(stream-age)
    per-compaction cost (~3k object-store probes a month into a
    compact_every=10, 1k-batches/day stream). The watermark is written
    AFTER the deletions: a crash between them replays a few idempotent
    deletes on the next call, never skips one."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1 (the live version)")
    fs = state_fs(spark, out_dir)
    wm_path = state_file(out_dir, "vacuum.json")
    start = ((read_json(fs, wm_path) or {}).get("vacuumed_through", 0)) + 1
    cut = current_version - retain_versions
    gone = []
    for j in range(start, cut + 1):
        vdir = f"{out_dir}/index_versions/v{j}"
        if fs.exists(vdir):
            fs.delete_recursive(vdir)
            gone.append(j)
    if cut >= start:
        write_json_atomic(fs, wm_path, {"vacuumed_through": cut})
    return gone


def drop_versions(fs, root: str, below: int) -> list[str]:
    """Delete the ``v=<j>`` partitions of versions root ``root`` with
    ``j < below``, and the root itself once no partition is left (so
    readers keep their fast ``is_dir`` miss). Returns the deleted
    partition dirs; re-running is an idempotent no-op."""
    gone = batch_dirs(fs, root, -1, below, prefix="v=")
    for d in gone:
        fs.delete_recursive(d)
    if fs.is_dir(root) and not batch_dirs(fs, root, -1, math.inf, prefix="v="):
        fs.delete_recursive(root)
    return gone


def fold_due(batch_id: int, every: int | None) -> bool:
    """Whether batch ``batch_id`` opens with a fold under cadence
    ``every``. The streaming loops fold through ``batch_id - 1`` — every
    earlier batch is committed (the stream is processing this one), so
    a crash-replay of this batch never meets its own artifacts below
    the watermark, and a re-triggered fold is a no-op. They fold BEFORE
    the empty-batch return: an empty K-th batch must still fold the
    tail, or the cycle slips to 2K (and can starve on an unlucky run of
    idle pages). Batch 0 has nothing committed to fold."""
    return bool(every) and batch_id > 0 and batch_id % every == 0


def upgrade_due(batch_id: int, every: int, upgrade_every: int | None) -> bool:
    """Whether the fold at ``batch_id`` (cadence ``every``) is an
    ``upgrade_every``-th one: a MAJOR dedup fold, or an IVF centroid
    rebuild."""
    return bool(upgrade_every) and (batch_id // every) % upgrade_every == 0
