"""Tracked DataFrame persistence.

Several operators persist intermediates that feed multiple consumers of
one lazy plan (shingle tables, LSH candidate sets, HLL sketch tables).
Because plans are lazy, the operator cannot unpersist them itself — the
cache must outlive plan construction. ``persist_tracked`` registers
every such persist so ``release_cache()`` can free them all between
runs; long-lived sessions (the parity sweep, the correctness driver)
otherwise accumulate executor memory (ADVICE r6). bench.py instead
calls ``spark.catalog.clearCache()`` between queries, which drops these
too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def _still_cached(df: DataFrame) -> bool:
    """True when the DataFrame's cache is still live. ``storageLevel``
    is a JVM round-trip; a module-level entry can outlive its
    SparkSession (sequential test sessions), in which case the property
    access raises — treat that as 'cache gone' and drop the entry
    (ADVICE r7)."""
    try:
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk
    except Exception:
        return False


def persist_tracked(df: DataFrame, eager: bool = False) -> DataFrame:
    """persist() with registration so release_cache() can free it later.

    ``eager=True`` materializes immediately (count()): needed when
    several branches of ONE downstream action read the DataFrame — with
    a lazy persist those branches race to compute it before the cache
    populates, re-running the whole upstream pipeline per branch
    (measured 2-5x end-to-end blowup on the prefix-filter join). The
    cost is that plan construction launches a Spark job — callers of
    registry fn()s that persist eagerly must expect that side effect
    (documented in plans.__init__).
    """
    df = df.persist()
    _PERSISTED.append(df)
    # self-prune: sessions that clear caches via
    # spark.catalog.clearCache() alone (bench.py historically) never
    # empty this list, so it would accumulate a DataFrame reference per
    # persist for the session lifetime. Once the list is large, drop
    # entries whose cache is already gone (storageLevel reset by
    # clearCache/unpersist) — a cheap driver-local check.
    if len(_PERSISTED) > 256:
        _PERSISTED[:] = [d for d in _PERSISTED if _still_cached(d)]
    if eager:
        df.count()
    return df


def release_cache() -> None:
    """Unpersist every intermediate registered so far. Entries whose
    session has since stopped are dropped silently (same rationale as
    the self-prune above)."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass


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
