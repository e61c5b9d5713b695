"""stream_ingest: the composed ``streaming_ingest_etl`` with all three
fold cadences on (state, dedup, ann; prune and vacuum on).

Setup builds the stored LSH and IVF indexes from the generated stream
corpus; the builds also pay the first runs of the code the stream
shares with them (minhash, chunk and embed, parquet writes). The
measured part starts the stream on page 0 and is then a closed loop
with one client: publish the next page, wait for
``processAllAvailable``, check the batch's outputs, repeat, until the
run's seconds are spent. A timed run so measures the stream's first
batch; a traced run goes on to batch 1, which folds. Docs are counted
from the feed, not from the progress ``numInputRows``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from checks import check_stream_batch
from tracing import HostContext, PeakMemory, SparkStats, dir_bytes, tree_cpu_s

PAGE = 100            # docs per page = per micro-batch
N_CORPUS = 2000       # docs behind the stored LSH and IVF indexes
FOLD_EVERY = 1        # cadence of all three folds: every batch after the first folds
SETUP_REPEATS = 3
PROFILE_STAGES = (
    "folds", "pin_batch", "skip", "anchor_load", "kernel:probe", "kernel:clean_pin",
    "kernel:ivf_load", "kernel:chunk_embed", "kernel", "write_outputs", "write_ann",
    "events", "write_state",
)


def _read_ids(path: str, column: str) -> set[int]:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return set()
    return {int(x) for x in pq.read_table(path, columns=[column]).column(column).to_pylist()}


def _progress_listener(stats: SparkStats):
    """A listener that snapshots each batch's Spark jobs when its
    progress event arrives (the status store keeps only the last
    ``spark.ui.retainedJobs`` jobs, so a run-end read would lose them)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchJobs(StreamingQueryListener):
        def __init__(self):
            self.per_batch: dict = {}
            self.bookkeeping_s = 0.0
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t = time.perf_counter()
            p = event.progress
            js = stats.collect(str(p.runId))
            with self.cond:
                self.per_batch[int(p.batchId)] = js
                self.bookkeeping_s += time.perf_counter() - t
                self.cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, batch_id: int, timeout: float = 60.0) -> bool:
            with self.cond:
                return self.cond.wait_for(lambda: batch_id in self.per_batch, timeout)

    return BatchJobs()


def _is_fold(batch_id: int) -> bool:
    return batch_id > 0 and batch_id % FOLD_EVERY == 0


class StageJobs(list):
    """The stream's stage-profile list. ``enable_stage_profile`` hands
    the stream a list it appends (batch, stage, seconds) to at each stage
    end; this one also snapshots, at each append, the Spark jobs the
    stage launched, and the output tree's bytes when the folds end."""

    def __init__(self, stats: SparkStats, out_dir: str):
        super().__init__()
        self.stats = stats
        self.out_dir = out_dir
        self.group: str | None = None      # the query's run id, once started
        self.jobs: dict[tuple[int, str], object] = {}
        self.bytes_after_folds: dict[int, int] = {}
        self.bookkeeping_s = 0.0

    def append(self, item) -> None:
        super().append(item)
        if self.group is None:
            return
        t = time.perf_counter()
        batch, stage, _ = item
        self.jobs[(batch, stage)] = self.stats.collect(self.group)
        if stage == "folds":
            self.bytes_after_folds[batch] = dir_bytes(self.out_dir)[0]
        self.bookkeeping_s += time.perf_counter() - t


class StreamIngest:
    def __init__(self, ctx, trace: bool):
        self.ctx = ctx
        self.trace = trace
        self.work = os.path.join(ctx.work, "stream")
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.listener = None
        self.profile = None
        self.query = None

    # -- setup ---------------------------------------------------------
    def setup(self) -> dict:
        from notion_vector_store_etl_pipeline_spark.operators import dedup as D
        from notion_vector_store_etl_pipeline_spark.operators.similarity import (
            quantize_and_assign,
            refresh_centroids,
            write_ivf_index,
        )
        from notion_vector_store_etl_pipeline_spark.streaming import ingest_pipeline as IP

        ctx, spark, w = self.ctx, self.ctx.spark, self.work
        gen_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            feed = gen.StreamFeed.create(ctx.seed, N_CORPUS, PAGE)
            os.makedirs(w, exist_ok=True)
            feed.corpus.to_parquet(f"{w}/corpus.parquet", index=False)
            gen_times.append(time.perf_counter() - t)
        self.feed = feed

        corpus = spark.read.parquet(f"{w}/corpus.parquet")

        def build_lsh() -> float:
            t = time.perf_counter()
            D.write_lsh_index(D.build_lsh_index(corpus.select("doc_id", "text")), f"{w}/lsh")
            return time.perf_counter() - t

        def build_ivf() -> float:
            t = time.perf_counter()
            chunks = IP.embedded_chunks(corpus).select("vec_id", "emb")
            c_ids, c_mat = refresh_centroids(chunks)
            write_ivf_index(
                spark,
                quantize_and_assign(chunks, c_ids, c_mat, topn=1, id_col="vec_id", emb_col="emb"),
                c_ids, c_mat, f"{w}/ivf",
            )
            return time.perf_counter() - t

        # the two index builds are independent; running them side by
        # side overlaps their per-job fixed costs
        t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=2) as pool:
            lsh, ivf = pool.submit(build_lsh), pool.submit(build_ivf)
            lsh_s, ivf_s = lsh.result(), ivf.result()
        build_s = time.perf_counter() - t

        if self.trace:
            self.listener = _progress_listener(SparkStats(spark))
            spark.streams.addListener(self.listener)
            IP.enable_stage_profile()
            # the stream appends to the module's profile list; swap in
            # one that also reads each stage's Spark jobs
            self.profile = IP._PROFILE = StageJobs(SparkStats(spark), f"{w}/out")
        self.src = f"{w}/feed.parquet"
        return {
            "setup.generate_s": statistics.median(gen_times),
            "setup.build_s": build_s,
            "setup.lsh_build_s": lsh_s,
            "setup.ivf_build_s": ivf_s,
            "setup.warmup_s": 0.0,   # the index builds are the warm-up
        }

    def _start(self):
        from notion_vector_store_etl_pipeline_spark.streaming import ingest_pipeline as IP

        w = self.work
        self.query = IP.streaming_ingest_etl(
            self.ctx.spark, self.src, f"{w}/corpus.parquet", f"{w}/lsh", f"{w}/ivf",
            f"{w}/out", f"{w}/ckpt",
            page_size=PAGE, pages_per_batch=1,
            compact_state_every=FOLD_EVERY, prune_state=True, vacuum_events=True,
            update_index=True,
            compact_dedup_every=FOLD_EVERY, compact_dedup_prune=True, compact_dedup_retain=2,
            compact_ann_every=FOLD_EVERY, compact_ann_prune=True, compact_ann_retain=2,
        )
        if self.profile is not None:
            self.profile.group = str(self.query.runId)

    def _check_batch(self, n: int) -> list[str]:
        out = f"{self.work}/out"
        page = self.feed.pages[n]
        fed = {int(d) for d in page.doc_id}
        self.clean = _read_ids(f"{out}/clean/batch_id={n}", "doc_id")
        self.flagged = _read_ids(f"{out}/flagged/ingest_batch={n}", "batch_id")
        return check_stream_batch(
            n, fed, self.clean, self.flagged, self.feed.expected_skips(n),
            self.feed.may_flag(n), set(self.feed.controls),
        )

    def stop(self) -> None:
        from notion_vector_store_etl_pipeline_spark.streaming import ingest_pipeline as IP

        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.listener is not None:
            self.ctx.spark.streams.removeListener(self.listener)
            self.listener = None
        IP.disable_stage_profile()

    # -- measured part -------------------------------------------------
    def measure(self, seconds: float, trace: bool) -> tuple[dict, dict]:
        feed = self.feed
        rows: list[dict] = []
        with HostContext() as host, PeakMemory() as mem:
            measured = 0.0
            # a traced run also needs a fold batch
            while len(rows) < 40 and (measured < seconds or (trace and not any(r["fold"] for r in rows))):
                page = feed.next_page()
                n = len(feed.pages) - 1
                feed.write(self.src)
                before = dir_bytes(f"{self.work}/out")[0]
                cpu = tree_cpu_s()
                t = time.perf_counter()
                self.attempted += 1
                try:
                    if self.query is None:
                        self._start()
                    self.query.processAllAvailable()
                except Exception as exc:  # the stream died: count it and stop
                    self.failed += 1
                    self.failures.append(f"batch {n}: {type(exc).__name__}: {exc}")
                    break
                wall = time.perf_counter() - t
                cpu = tree_cpu_s() - cpu
                measured += wall
                errors = self._check_batch(n)
                if self.listener is not None and not self.listener.wait_for(n):
                    errors.append(f"batch {n}: no progress event")
                self.failures += errors
                self.failed += bool(errors)
                planted = feed.of_kind(n, "near_dup")
                rows.append({
                    "batch": n, "wall": wall, "cpu_s": cpu, "docs": len(page), "fold": _is_fold(n), "bytes_before": before,
                    "bytes_delta": dir_bytes(f"{self.work}/out")[0] - before,
                    "planted": len(planted), "planted_flagged": len(planted & self.flagged),
                    "flagged": len(self.flagged),
                    "skipped": len(page) - len(self.clean) - len(self.flagged),
                    "text_bytes": int(page.text.str.len().sum()),
                })
        steady = [r for r in rows if not r["fold"]]
        folds = [r for r in rows if r["fold"]]
        if not steady or (trace and not folds):
            raise RuntimeError("stream measured too few batches: " + "; ".join(self.failures[:3]))
        progress = {int(p.batchId): dict(p.durationMs or {}) for p in self.query.recentProgress}
        out_bytes, out_files = dir_bytes(f"{self.work}/out")
        fed_bytes = sum(int(p.text.str.len().sum()) for p in feed.pages)
        for r in rows:
            d = progress.get(r["batch"], {})
            r["trigger_s"] = d.get("triggerExecution", r["wall"] * 1000) / 1000.0
            r["add_batch_s"] = d.get("addBatch", 0) / 1000.0
            r["source_s"] = (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0
            r["commit_s"] = (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        e2e = {
            "docs_per_s": sum(r["docs"] for r in rows) / sum(r["wall"] for r in rows),
            "delta_s": statistics.median(r["trigger_s"] for r in steady),
            "peak_pss_mb": mem.peak_mb,
            "stored_bytes_per_input_byte": out_bytes / fed_bytes,
        }
        planted = sum(r["planted"] for r in rows)
        report = {
            "stream_docs_per_s": e2e["docs_per_s"],
            "stream_first_batch_s": e2e["delta_s"],
            "stream_first_batch_cpu_s": statistics.median(r["cpu_s"] for r in steady),
            "stream_stored_bytes_per_input_byte": e2e["stored_bytes_per_input_byte"],
            "stream_dedup_recall": sum(r["planted_flagged"] for r in rows) / planted if planted else 1.0,
            "batches": rows,
        }
        layer = dict(host.metrics())
        layer["stream.files_at_end"] = out_files
        if trace:
            layer.update(self._layer_metrics(steady, folds))
            report["stream_fold_batch_p50_s"] = statistics.median(r["trigger_s"] for r in folds)
        return e2e, layer | {"__report": report}

    def _layer_metrics(self, steady, folds) -> dict:
        prof: dict[int, dict[str, float]] = {}
        for b, stage, sec in self.profile:
            prof.setdefault(b, {})
            prof[b][stage] = prof[b].get(stage, 0.0) + sec
        jobs = self.listener.per_batch
        fold_jobs = lambda r: self.profile.jobs[(r["batch"], "folds")]  # noqa: E731

        def med(batch_rows, fn):
            return statistics.median(fn(r) for r in batch_rows)

        def stage(r, name):
            return prof.get(r["batch"], {}).get(name, 0.0)

        out: dict = {}
        out["stream.source_s"] = med(steady, lambda r: r["source_s"])
        out["stream.add_batch_s"] = med(steady, lambda r: r["add_batch_s"])
        out["stream.commit_s"] = med(steady, lambda r: r["commit_s"])
        for name in PROFILE_STAGES:
            if name == "kernel":
                continue
            key = "stream." + name.replace(":", ".") + "_s"
            out[key] = med(folds if name == "folds" else steady, lambda r, n=name: stage(r, n))
        js = lambda r: jobs[r["batch"]]  # noqa: E731
        out["stream.jobs_per_batch"] = med(steady, lambda r: js(r).jobs)
        out["stream.stages_per_batch"] = med(steady, lambda r: js(r).stages)
        out["stream.exec_run_s_per_batch"] = med(steady, lambda r: js(r).exec_run_s)
        out["stream.busy_cores"] = med(steady, lambda r: js(r).exec_run_s / r["trigger_s"])
        # the folds stage's own jobs, and the bytes it leaves under the
        # output tree net of what it prunes
        out["stream.fold.jobs"] = med(folds, lambda r: fold_jobs(r).jobs)
        out["stream.fold.exec_run_s"] = med(folds, lambda r: fold_jobs(r).exec_run_s)
        out["stream.fold.bytes_written"] = med(
            folds, lambda r: self.profile.bytes_after_folds[r["batch"]] - r["bytes_before"])
        out["stream.flagged_per_batch"] = med(steady, lambda r: r["flagged"])
        out["stream.skipped_per_batch"] = med(steady, lambda r: r["skipped"])
        out["stream.bytes_written_per_doc"] = med(steady, lambda r: r["bytes_delta"] / r["docs"])

        for gen_name, pop in (("delta", steady), ("peak", folds)):
            parts = {
                "ingest_s": med(pop, lambda r: stage(r, "pin_batch")),
                "state_s": med(pop, lambda r: stage(r, "skip")),
                "transform_s": med(pop, lambda r: stage(r, "anchor_load") + stage(r, "kernel")),
                "sinks_s": med(pop, lambda r: stage(r, "write_outputs") + stage(r, "write_ann")),
                # the folds compact the committed state, events and indexes
                "commit_s": med(pop, lambda r: stage(r, "folds") + stage(r, "events") + stage(r, "write_state")),
            }
            for k, v in parts.items():
                out[f"{gen_name}.{k}"] = v
            out[f"{gen_name}.other_s"] = med(pop, lambda r: r["trigger_s"]) - sum(parts.values())
            out[f"{gen_name}.jobs"] = med(pop, lambda r: js(r).jobs)
            out[f"{gen_name}.exec_run_s"] = med(pop, lambda r: js(r).exec_run_s)
            out[f"{gen_name}.busy_cores"] = med(pop, lambda r: js(r).exec_run_s / r["trigger_s"])
            out[f"{gen_name}.bytes_written"] = med(pop, lambda r: r["bytes_delta"])
        out["trace.bookkeeping_s"] = self.listener.bookkeeping_s + self.profile.bookkeeping_s
        out["trace.overhead_s"] = out["trace.bookkeeping_s"]
        out["trace.uncovered_s"] = out["delta.other_s"] + out["peak.other_s"]
        return out
