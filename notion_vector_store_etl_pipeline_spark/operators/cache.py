"""The package's one persist API: two cache lifetimes, no tracking list.

- :func:`persist` pins a cache that must OUTLIVE the call: registry
  operators return lazy plans that read shared intermediates (shingle
  tables, LSH candidates, HLL sketches, BFS frontiers). The session
  holds it until :func:`release_cache`, which long-lived sessions
  (bench.py, the parity sweep, perfbench) call between queries.
- :func:`cache_scope` pins caches that die WITH the call: each
  ``c.persist()`` pin is unpersisted when the block exits, on return or
  raise. A frame that outlives the scope should not need its pins for
  speed (the stream probes return ``localCheckpoint``-backed frames); one
  that still reads a dropped cache recomputes, it never errors.

``eager=True`` materializes the cache with one ``count()``. Use it when
several branches of ONE later action read the frame: a lazy cache is
raced by those branches, each re-running the upstream plan (measured
2-5x end-to-end on the prefix-filter join). The cost is a Spark job at
plan construction (the registry caveat in plans.__init__).

A stream's micro-batch work is bound by its job count, not its data.
:func:`checkpoint_page` materializes a page-bounded frame in one job
and hands it back as a frame the planner knows is one small partition,
with whatever aggregates the job observed on the way (its ids, say).
Aggregates over such frames, and shuffled hash joins between them,
plan no ``Exchange``.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.persist()``, plus one ``count()`` when ``eager``."""
    df = df.persist()
    if eager:
        df.count()
    return df


class CacheScope:
    """The pins of one :func:`cache_scope` block."""

    def __init__(self) -> None:
        self.pins: list[DataFrame] = []

    def persist(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """:func:`persist`, unpersisted when the scope exits."""
        self.pins.append(df)
        return persist(df, eager)


@contextmanager
def cache_scope() -> Iterator[CacheScope]:
    """``with cache_scope() as c: x = c.persist(df, eager=...)``. On
    exit every pin is unpersisted, newest first (dependents before
    their inputs)."""
    scope = CacheScope()
    try:
        yield scope
    finally:
        for df in reversed(scope.pins):
            df.unpersist()


def release_cache() -> None:
    """Clear the active session's cache: every ``persist()``, while
    ``localCheckpoint`` blocks stay readable. No active session: no-op."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()


def checkpoint_page(df: DataFrame, **observed: Column) -> tuple[DataFrame, dict]:
    """Materialize a page-bounded frame (a micro-batch, or a result
    derived from one) with one eager ``localCheckpoint``. Returns the
    frame and a dict of aggregates the same job observed over it:
    ``rows`` (the row count) plus each of ``observed``, e.g.
    ``ids=F.collect_set("doc_id")``.

    The frame reads the checkpoint in one partition, under a ``limit``
    of exactly its row count. Neither changes the data; together they
    tell the planner what a checkpoint hides. Aggregates over the frame
    then need no ``Exchange``, and neither does a shuffled hash join
    (``hint("shuffle_hash")``; the planner broadcasts small frames
    otherwise, a job of its own) between two such frames: the planner
    re-shuffles a one-partition join side only when it cannot size it
    (``spark.sql.maxSinglePartitionBytes``). A semi or anti join is
    pushed below a lazy ``coalesce(1)``, but not below a ``limit``.
    ``localCheckpoint`` blocks are executor-local and cannot be
    recomputed: losing an executor before the frame's last reader fails
    that reader (a stream replays the micro-batch)."""
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *(col.alias(name) for name, col in observed.items()),
    ).localCheckpoint(eager=True)
    seen = obs.get
    return df.coalesce(1).limit(seen["rows"]), seen


# ---------------------------------------------------------------------------
# Version-keyed DataFrame memo (VERDICT r13 #1).
#
# ``spark.read.parquet(root)`` is EAGER on the driver — file listing +
# schema inference happen at DataFrame construction, before any job.
# A streaming foreachBatch loop that re-constructs its anchored state
# reads (folded index version, corpus versions, folded skip state)
# every micro-batch pays that listing ~6x per batch even when the
# compaction watermark has not moved (measured: ~1.5 s of the ~12 s
# fixed per-batch overhead, SCALE_SMOKE_R14.md §1).
#
# Soundness contract: callers key each entry on the inputs' VERSION —
# the compaction-manifest version whose trees are write-once by the
# stream's own exactly-once discipline. A fold/vacuum/major-rewrite
# publishes a NEW version and bumps the key; between folds nothing
# mutates the covered trees. Out-of-band mutation of committed state
# is outside the model (it breaks the stream with or without this
# memo); ``clear_df_memo()`` is the explicit hook for such callers.
# Keys embed the Spark application id, so sequential sessions (test
# suites) can never serve a dead session's plan.
_DF_MEMO: dict[tuple, "DataFrame"] = {}
_DF_MEMO_MAX = 64


def clear_df_memo() -> None:
    _DF_MEMO.clear()


def memo_df(spark, key: tuple, build):
    """Return the memoized DataFrame for ``key`` (scoped to ``spark``'s
    application), constructing it via ``build()`` on a miss. ``key``
    must capture every mutable input — by contract a (path(s), version)
    tuple where the version bumps whenever any covered tree changes."""
    k = (spark.sparkContext.applicationId,) + key
    df = _DF_MEMO.get(k)
    if df is None:
        df = build()
        if len(_DF_MEMO) >= _DF_MEMO_MAX:
            _DF_MEMO.pop(next(iter(_DF_MEMO)))
        _DF_MEMO[k] = df
    return df
