"""Crash recovery of the EMBEDDING ingest-dedup stream (VERDICT r13
#7): the text wing's replay-idempotency claims are pinned under real
subprocess kills (test_recovery.py's pattern); this gives
``streaming_vector_ingest(dedup_threshold=...)`` the same treatment.

A child interpreter runs the stream with ``compact_every=2`` and
SIGKILLs its own process group the instant the batch-4 fold publishes —
the torn point between a compaction commit and the boundary batch's own
artifacts (flagged ledger / delta / epoch commit all still unwritten).
The parent then restarts the stream on the same checkpoint and asserts
the final disposition — flagged ledger, ingested survivors, manifest —
EQUALS a never-crashed reference run of the identical feed: the
``flagged/ingest_batch=N`` ledger's replay-idempotency under a real
crash, not just a re-fed batch.

Feed geometry (8-dim one-hots; cosine threshold 0.9, one IVF list so
the probe is exact): near-dups are planted before the crash point
(batch 1: id 4 ~ corpus resident 100; batch 3: id 7 ~ ingested 5), AT
the replayed batch (batch 4: id 9 ~ corpus 100), and after it
(batch 5: intra-batch pair 12 ~ 11), so the replay re-derives a flag
and post-crash batches probe state rebuilt across the kill.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import numpy as np

from notion_vector_store_etl_pipeline_spark.operators.similarity import (
    quantize_and_assign,
    write_ivf_index,
)
from notion_vector_store_etl_pipeline_spark.streaming.ann_stream import (
    load_stream_ann_state,
    streaming_vector_ingest,
)
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    read_compaction_manifest,
)

THR = 0.9
DIM = 8
# single centroid -> one IVF list; centroid geometry is not under test
CENT_IDS = np.array([0], dtype=np.int64)
CENT_MAT = np.ones((1, DIM), dtype=np.float64)


def _e(i: int) -> list[float]:
    v = [0.0] * DIM
    v[i] = 1.0
    return v


#: (vec_id, emb); page_size=2 -> batches [(1,2),(3,4),(5,6),(7,8),
#: (9,10),(11,12)]. Corpus resident: 100 = e0.
FEED = [
    (1, _e(1)),
    (2, _e(2)),
    (3, _e(3)),
    (4, _e(0)),  # dup of corpus resident 100 (batch 1)
    (5, _e(4)),
    (6, _e(5)),
    (7, _e(4)),  # dup of ingested 5, cross-batch (batch 3)
    (8, _e(6)),
    (9, _e(0)),  # dup of corpus 100, in the REPLAYED batch 4
    (10, _e(7)),
    (11, [0.7071067811865476, 0.7071067811865476] + [0.0] * (DIM - 2)),
    (12, [0.7071067811865476, 0.7071067811865476] + [0.0] * (DIM - 2)),
    # 11 ~ 12 intra-batch (batch 5, after the crash point); sequential
    # policy flags 12 against surviving 11
]
EXPECT_FLAGGED = [(4, 100), (7, 5), (9, 100), (12, 11)]
EXPECT_SURVIVORS = [1, 2, 3, 5, 6, 8, 10, 11]

_KILL_SCRIPT = """
import os, signal, sys
from pyspark.sql import SparkSession
from notion_vector_store_etl_pipeline_spark.streaming import ann_stream

src, base, out, ckpt, kill_at = sys.argv[1:6]
kill_at = int(kill_at)

spark = (SparkSession.builder.master("local[4]").appName("ann-kill")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

_real_fold = ann_stream.compact_ann_stream_state

def _fold_then_die(spark, out_dir, through_batch, base_index_path, **kw):
    man = _real_fold(spark, out_dir, through_batch, base_index_path, **kw)
    if through_batch + 1 == kill_at:
        # the fold for this boundary batch just PUBLISHED; die before
        # the batch writes its flagged ledger / delta / epoch commit.
        # SIGKILL the whole process group (this interpreter AND the
        # local-mode JVM) — no atexit, no JVM shutdown hooks.
        os.killpg(os.getpgid(0), signal.SIGKILL)
    return man

ann_stream.compact_ann_stream_state = _fold_then_die

q = ann_stream.streaming_vector_ingest(
    spark, src, base, out, ckpt,
    page_size=2, pages_per_batch=1, compact_every=2,
    dedup_threshold=float(sys.argv[6]), dedup_probes=1,
)
q.processAllAvailable()
print("NO_KILL")  # reaching here means the crash point never fired
"""


def _vec_df(spark, rows, emb_col="emb"):
    return spark.createDataFrame(
        [(i, list(v)) for i, v in rows], f"vec_id: long, {emb_col}: array<double>"
    )


def _setup(spark, root):
    base = str(root / "base")
    write_ivf_index(
        spark,
        quantize_and_assign(
            _vec_df(spark, [(100, _e(0))]),
            CENT_IDS,
            CENT_MAT,
            topn=1,
            id_col="vec_id",
            emb_col="emb",
        ),
        CENT_IDS,
        CENT_MAT,
        base,
    )
    src = str(root / "incoming.parquet")
    _vec_df(spark, FEED, emb_col="embedding").orderBy("vec_id").toPandas().to_parquet(
        src, index=False
    )
    return base, src


def _run_to_completion(spark, src, base, out, ckpt):
    q = streaming_vector_ingest(
        spark,
        src,
        base,
        out,
        ckpt,
        page_size=2,
        pages_per_batch=1,
        compact_every=2,
        dedup_threshold=THR,
        dedup_probes=1,
    )
    q.processAllAvailable()
    q.stop()


def _disposition(spark, out, base):
    flagged = sorted(
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged").collect()
    )
    vectors, _, _ = load_stream_ann_state(spark, out, base, before_batch=10**9)
    survivors = sorted(r.vec_id for r in vectors.select("vec_id").collect())
    return flagged, survivors


def test_kill_mid_fold_then_restart_matches_uncrashed_run(spark, tmp_path):
    base, src = _setup(spark, tmp_path)

    # reference: the same feed, never crashed
    ref_out, ref_ckpt = str(tmp_path / "ref_out"), str(tmp_path / "ref_ckpt")
    _run_to_completion(spark, src, base, ref_out, ref_ckpt)
    ref_flagged, ref_survivors = _disposition(spark, ref_out, base)
    assert ref_flagged == EXPECT_FLAGGED
    assert ref_survivors == sorted(EXPECT_SURVIVORS + [100])

    # crashed run: child SIGKILLs its process group right after the
    # batch-4 fold publishes (through_batch=3), before batch 4's writes
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_SCRIPT, src, base, out, ckpt, "4", str(THR)],
        capture_output=True,
        text=True,
        timeout=600,
        start_new_session=True,  # child leads its own group; killpg is self-contained
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == -signal.SIGKILL, (
        proc.returncode,
        proc.stdout[-500:],
        proc.stderr[-2000:],
    )
    assert "NO_KILL" not in proc.stdout  # it really died at the fold

    # torn state on disk: the fold through batch 3 published, but
    # batch 4's own artifacts never landed
    man = read_compaction_manifest(out, spark)
    assert man is not None and man["through_batch"] == 3, man
    done = {
        int(p.rsplit("=", 1)[1])
        for p in os.listdir(f"{out}/flagged")
        if p.startswith("ingest_batch=")
    }
    assert 4 not in done and {0, 1, 2, 3} <= done, done

    # restart on the same checkpoint: batch 4 replays (fold re-trigger
    # is an idempotent no-op), 5 follows; disposition must EQUAL the
    # never-crashed reference
    _run_to_completion(spark, src, base, out, ckpt)
    got_flagged, got_survivors = _disposition(spark, out, base)
    assert got_flagged == ref_flagged
    assert got_survivors == ref_survivors
    man2 = read_compaction_manifest(out, spark)
    assert man2 is not None and man2["through_batch"] >= 3

    # every feed id disposed exactly once: flagged ∪ ingested = feed
    flagged_ids = {b for b, _ in got_flagged}
    assert flagged_ids.isdisjoint(set(got_survivors))
    assert sorted(flagged_ids | (set(got_survivors) - {100})) == sorted(
        i for i, _ in FEED
    )
