"""batch_lifecycle: the reference's ``run_etl`` twice through the CLI.

One cycle is a cold load of the generated corpus into empty state, then
reruns after the seeded edit set (edited + new docs), each on its own
copy of the loaded state. All go through ``__main__.main`` in-process. Cycles repeat until the
run's seconds are spent; at the 5 seconds BENCHMARK.json gives a run,
that is one cycle.

The traced run wraps the layers' public functions the CLI calls
(snapshot, state read, incremental plan, chunker, sinks, state commit)
in spans and materializes each layer's output at its boundary, so each
span holds that layer's work.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import statistics
import time

import gen
from ann import AnnServe
from checks import check_cold_load, check_rerun, read_jsonl_records, read_state
from tracing import HostContext, PeakMemory, Tracer, dir_bytes, tree_cpu_s

N_DOCS = 3000          # corpus docs of a measured cycle
WARMUP_DOCS = 300      # corpus docs of the untimed warm-up cycle
SETUP_REPEATS = 3      # input generations per run; setup_s takes their median
RERUNS = 3             # reruns per measured cycle; a rerun is short, so delta_s takes their median

LAYERS = ("snapshot", "state_read", "incremental.plan", "chunker", "sinks", "incremental.commit")
SUMMARY = re.compile(r"processed=(\d+) skipped=(\d+) chunks=(\d+) stale_vectors=(\d+)")


def _cli(argv: list[str]) -> dict:
    """Run the CLI in-process; returns its run summary as numbers."""
    from notion_vector_store_etl_pipeline_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = main(argv)
    m = SUMMARY.search(buf.getvalue())
    if code != 0 or m is None:
        raise RuntimeError(f"CLI exited {code}: {buf.getvalue()[-500:]}")
    keys = ("processed", "skipped", "chunks", "stale_vectors")
    return dict(zip(keys, (int(x) for x in m.groups())))


@contextlib.contextmanager
def traced_layers(tracer: Tracer, phase: str, counts: dict):
    """Route the CLI's layer calls through spans named ``phase.layer``,
    materializing each layer's output inside its span."""
    import notion_vector_store_etl_pipeline_spark.__main__ as cli
    from notion_vector_store_etl_pipeline_spark import pipeline
    from notion_vector_store_etl_pipeline_spark.operators import incremental, sinks

    def frame_layer(layer, fn, count_key=None):
        def wrapped(*a, **kw):
            with tracer.span(f"{phase}.{layer}"):
                df = fn(*a, **kw).persist()
                n = df.count()
            if count_key:
                counts[count_key] = n
            return df
        return wrapped

    def plan_layer(fn):
        def wrapped(*a, **kw):
            with tracer.span(f"{phase}.incremental.plan"):
                plan = fn(*a, **kw)
                plan.needs_vector.persist().count()
                counts["to_process"] = plan.to_process.count()
            return plan
        return wrapped

    def write_layer(layer, fn):
        def wrapped(df, path, *a, **kw):
            with tracer.span(f"{phase}.{layer}") as sp:
                fn(df, path, *a, **kw)
            sp.extra["bytes_written"] = dir_bytes(path)[0]
            return None
        return wrapped

    patches = [
        (cli, "build_snapshot", frame_layer("snapshot", cli.build_snapshot, "snapshot")),
        (cli, "load_state", frame_layer("state_read", cli.load_state)),
        (pipeline, "plan_increment", plan_layer(pipeline.plan_increment)),
        (pipeline, "explode_chunks", frame_layer("chunker", pipeline.explode_chunks, "chunks")),
        (pipeline, "chunk_records", frame_layer("sinks", pipeline.chunk_records)),
        (pipeline, "upsert_state", frame_layer("incremental.commit", pipeline.upsert_state)),
        (sinks, "write_chunks_jsonl", write_layer("sinks", sinks.write_chunks_jsonl)),
        (incremental, "commit_state", write_layer("incremental.commit", incremental.commit_state)),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    try:
        for mod, name, fn in patches:
            setattr(mod, name, fn)
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


class BatchLifecycle:
    def __init__(self, ctx, trace: bool):
        self.ctx = ctx
        self.work = os.path.join(ctx.work, "batch")
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- setup ---------------------------------------------------------
    def setup(self) -> dict:
        ctx = self.ctx
        gen_times, write_times = [], []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            corpus = gen.batch_corpus(ctx.seed, N_DOCS)
            warm = gen.batch_corpus(ctx.seed, WARMUP_DOCS)
            gen_times.append(time.perf_counter() - t)
            t = time.perf_counter()
            for name, docs in (("data_v0", corpus.v0), ("data_v1", corpus.v1),
                               ("warm_v0", warm.v0), ("warm_v1", warm.v1)):
                gen.write_docs(docs, f"{self.work}/{name}")
            write_times.append(time.perf_counter() - t)
        self.corpus = corpus
        # the warm-up cycle pays each code path's first run (class loading,
        # JIT); it is small because its cost is that, not the volume
        t = time.perf_counter()
        self._cycle(f"{self.work}/warm", "warm_v0", "warm_v1", tracer=None, check=False, reruns=1)
        warmup_s = time.perf_counter() - t
        return {"setup.generate_s": statistics.median(gen_times),
                "setup.build_s": statistics.median(write_times), "setup.warmup_s": warmup_s}

    def stop(self) -> None:
        pass

    # -- one cycle -----------------------------------------------------
    def _run_phase(self, phase, data, state, out, tracer, counts):
        argv = ["--data-dir", f"{self.work}/{data}", "--state-path", state, "--output-dir", out]
        self.ctx.clear_caches()
        cpu = tree_cpu_s()
        t = time.perf_counter()
        if tracer is None:
            summary = _cli(argv)
        else:
            with tracer.span(phase) as sp, traced_layers(tracer, phase, counts):
                summary = _cli(argv)
            sp.extra.update(summary)
        wall = time.perf_counter() - t
        summary["cpu_s"] = tree_cpu_s() - cpu
        return wall, summary

    def _cycle(self, base, v0, v1, tracer, check, reruns):
        shutil.rmtree(base, ignore_errors=True)
        state = f"{base}/state"
        counts_load: dict = {}
        counts_rerun: dict = {}
        load_s, s0 = self._run_phase("load", v0, state, f"{base}/out_load", tracer, counts_load)
        stored = dir_bytes(f"{base}/out_load")[0] + dir_bytes(state)[0]
        errors = []
        if check:
            prior_state = read_state(state)
            errors.append(check_cold_load(s0, read_jsonl_records(f"{base}/out_load"), self.corpus.v0))
        walls, summaries = [], []
        for k in range(reruns):
            state_k, out_k = f"{base}/state{k}", f"{base}/out_rerun{k}"
            shutil.copytree(state, state_k)
            wall, s1 = self._run_phase("rerun", v1, state_k, out_k, tracer, counts_rerun)
            walls.append(wall)
            summaries.append(s1)
            if check:
                errors.append(check_rerun(
                    s1, read_jsonl_records(out_k), prior_state,
                    self.corpus.v0, self.corpus.v1, self.corpus.edited, self.corpus.added,
                ))
        shutil.rmtree(base, ignore_errors=True)
        return {"load_s": load_s, "rerun_s": statistics.median(walls), "rerun_walls": walls,
                "rerun_cpu_s": statistics.median(s["cpu_s"] for s in summaries),
                "stored": stored, "errors": errors, "load": s0, "rerun": summaries[0],
                "counts_load": counts_load, "counts_rerun": counts_rerun}

    # -- measured part -------------------------------------------------
    def measure(self, seconds: float, trace: bool) -> tuple[dict, dict]:
        ctx = self.ctx
        cycles, traced = [], []
        tracer = Tracer(ctx.spark) if trace else None
        input_bytes = int(self.corpus.v0.text.str.len().sum())
        with HostContext() as host, PeakMemory() as mem:
            t0 = time.perf_counter()
            i = 0
            while True:
                use_tracer = tracer if (trace and i > 0) else None
                # a traced cycle's spans hold one rerun
                reruns = 1 if use_tracer else RERUNS
                t_cycle = time.perf_counter()
                try:
                    c = self._cycle(f"{self.work}/c{i}", "data_v0", "data_v1", use_tracer, True, reruns)
                except Exception as exc:  # a failed op counts; the run goes on
                    self.attempted += 1 + reruns
                    self.failed += 1 + reruns
                    self.failures.append(f"cycle {i}: {type(exc).__name__}: {exc}")
                else:
                    self.attempted += 1 + reruns
                    c["wall"] = time.perf_counter() - t_cycle
                    for op_errors in c["errors"]:
                        self.failures += op_errors
                        self.failed += bool(op_errors)
                    (traced if use_tracer else cycles).append(c)
                i += 1
                # a traced run needs one untraced and one traced cycle
                enough = (traced or i >= 4) if trace else (cycles or i >= 2)
                if time.perf_counter() - t0 >= seconds and enough:
                    break
        if not cycles or (trace and not traced):
            raise RuntimeError("no batch cycle completed: " + "; ".join(self.failures[:3]))
        base = cycles
        load = [c["load_s"] for c in base]
        rerun = [w for c in base for w in c["rerun_walls"]]
        e2e = {
            "docs_per_s": len(self.corpus.v0) / statistics.median(load),
            "delta_s": statistics.median(rerun),
            "peak_pss_mb": mem.peak_mb,
            "stored_bytes_per_input_byte": statistics.median(c["stored"] for c in base) / input_bytes,
        }
        report = {
            "load_docs_per_s": e2e["docs_per_s"],
            "rerun_s": e2e["delta_s"],
            "load_cpu_s": statistics.median(c["load"]["cpu_s"] for c in base),
            "rerun_cpu_s": statistics.median(c["rerun_cpu_s"] for c in base),
            "cycles": len(base),
            "load_walls_s": load,
            "rerun_walls_s": rerun,
        }
        layer = dict(host.metrics())
        if trace:
            layer.update(self._layer_metrics(tracer, traced, cycles[0]))
            report["spans"] = tracer.to_json()
            # the read side of the IVF layer is measured in this traced run only
            ann = AnnServe(ctx, f"{self.work}/ann")
            layer.update(ann.setup())
            ann_report, ann_layer, ann_failures, n = ann.measure(seconds)
            report.update(ann_report)
            layer.update(ann_layer)
            self.attempted += n
            self.failed += len(ann_failures)
            self.failures += ann_failures
        return e2e, layer | {"__report": report}

    def _layer_metrics(self, tracer: Tracer, traced: list, ref: dict) -> dict:
        """Per-layer metrics from the traced cycles (medians over cycles)."""
        per_cycle: list[dict] = []
        spans = tracer.spans
        # spans arrive in cycle order: load.*, load, rerun.*, rerun
        cycle: dict = {}
        for sp in spans:
            phase, _, layer = sp.name.partition(".")
            if not layer:
                cycle[f"{phase}.wall"] = sp.wall_s
                cycle[f"{phase}.stats"] = sp.stats
                if phase == "rerun":
                    per_cycle.append(cycle)
                    cycle = {}
                continue
            agg = cycle.setdefault(sp.name, {"wall_s": 0.0, "jobs": 0, "stages": 0, "exec_run_s": 0.0,
                                             "shuffle_bytes": 0, "bytes_written": 0, "task_skew": 0.0})
            agg["wall_s"] += sp.wall_s
            st = sp.stats
            agg["jobs"] += st.jobs
            agg["stages"] += st.stages
            agg["exec_run_s"] += st.exec_run_s
            agg["shuffle_bytes"] += st.shuffle_bytes
            agg["task_skew"] = max(agg["task_skew"], st.task_skew)
            agg["bytes_written"] += sp.extra.get("bytes_written", 0)

        def med(key, field):
            vals = [c[key][field] for c in per_cycle if key in c]
            return statistics.median(vals) if vals else 0.0

        out: dict = {}
        for phase in ("load", "rerun"):
            for layer in LAYERS:
                key = f"{phase}.{layer}"
                for field in ("wall_s", "jobs", "exec_run_s"):
                    out[f"{key}.{field}"] = med(key, field)
            for layer in ("incremental.plan", "incremental.commit"):
                out[f"{phase}.{layer}.shuffle_bytes"] = med(f"{phase}.{layer}", "shuffle_bytes")
            for layer in ("sinks", "incremental.commit"):
                out[f"{phase}.{layer}.bytes_written"] = med(f"{phase}.{layer}", "bytes_written")
        counts = [c["counts_load"] for c in traced]
        out["load.chunker.chunks_per_doc"] = statistics.median(
            c["chunks"] / max(c["to_process"], 1) for c in counts)
        out["load.chunker.task_skew"] = med("load.chunker", "task_skew")
        out["rerun.incremental.plan.process_ratio"] = statistics.median(
            c["counts_rerun"]["to_process"] / max(c["counts_rerun"]["snapshot"], 1) for c in traced)
        out["load.chunker.busy_cores"] = med("load.chunker", "exec_run_s") / max(med("load.chunker", "wall_s"), 1e-9)

        # generic stage view shared with the stream: the delta op is the
        # rerun, the peak op the cold load
        for gen_name, phase in (("delta", "rerun"), ("peak", "load")):
            stage = {
                "ingest_s": med(f"{phase}.snapshot", "wall_s"),
                "state_s": med(f"{phase}.state_read", "wall_s") + med(f"{phase}.incremental.plan", "wall_s"),
                "transform_s": med(f"{phase}.chunker", "wall_s"),
                "sinks_s": med(f"{phase}.sinks", "wall_s"),
                "commit_s": med(f"{phase}.incremental.commit", "wall_s"),
            }
            wall = statistics.median(c[f"{phase}.wall"] for c in per_cycle)
            jobs = sum(med(f"{phase}.{l}", "jobs") for l in LAYERS) + statistics.median(
                c[f"{phase}.stats"].jobs for c in per_cycle)
            exec_s = sum(med(f"{phase}.{l}", "exec_run_s") for l in LAYERS) + statistics.median(
                c[f"{phase}.stats"].exec_run_s for c in per_cycle)
            for k, v in stage.items():
                out[f"{gen_name}.{k}"] = v
            out[f"{gen_name}.other_s"] = wall - sum(stage.values())
            out[f"{gen_name}.jobs"] = jobs
            out[f"{gen_name}.exec_run_s"] = exec_s
            out[f"{gen_name}.busy_cores"] = exec_s / wall
            out[f"{gen_name}.bytes_written"] = med(f"{phase}.sinks", "bytes_written") + med(
                f"{phase}.incremental.commit", "bytes_written")
        traced_wall = statistics.median(c["load_s"] + c["rerun_s"] for c in traced)
        out["trace.overhead_s"] = traced_wall - (ref["load_s"] + ref["rerun_s"])
        out["trace.uncovered_s"] = out["delta.other_s"] + out["peak.other_s"]
        out["trace.bookkeeping_s"] = tracer.bookkeeping_s
        return out
