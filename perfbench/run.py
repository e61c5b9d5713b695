"""Product benchmark of the incremental document ETL engine.

    python3 perfbench/run.py --workload batch_lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts one local[4] Spark
session, generates its inputs from ``--seed`` under
``perfbench/.work/``, sets up, measures for ``--seconds``, checks every
operation's output, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (a separate traced run). The full
report, including every layer metric and the spans of a traced run, is
also written to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = "4"
DRIVER_MEM = "2g"   # get_spark defaults to 16g, more than a small box has

UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "delta_s": "s",
    "peak_pss_mb": "MB", "stored_bytes_per_input_byte": "ratio",
}
# the workload-specific names of the same numbers, and the ANN serving
# phase of a traced batch run, as printed in the report
REPORT_UNITS = {
    "load_docs_per_s": "docs/s", "rerun_s": "s", "load_cpu_s": "s", "rerun_cpu_s": "s", "cycles": "count",
    "stream_docs_per_s": "docs/s", "stream_first_batch_s": "s", "stream_first_batch_cpu_s": "s",
    "stream_fold_batch_p50_s": "s",
    "stream_stored_bytes_per_input_byte": "ratio", "stream_dedup_recall": "ratio",
    "query_p50_s": "s", "query_max_s": "s",
    "query_batches": "count", "ann_recall_at_10": "ratio", "ann_lists": "count",
}


class Context:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def clear_caches(self) -> None:
        from notion_vector_store_etl_pipeline_spark.operators.bloom import clear_sketch_memo
        from notion_vector_store_etl_pipeline_spark.operators.cache import (
            clear_df_memo,
            release_cache,
        )
        from notion_vector_store_etl_pipeline_spark.operators.similarity import clear_centroid_memo

        release_cache()
        self.spark.catalog.clearCache()
        clear_sketch_memo()
        clear_centroid_memo()
        clear_df_memo()


def _environment(work: str) -> None:
    """Pin cores and driver memory, and keep every file Spark and its
    workers write inside the run's work directory."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CORES
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def _stop_jvm() -> None:
    """End the driver JVM (and with it the Python workers) and wait for
    it, instead of leaving that to interpreter exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _layer_units() -> dict[str, str]:
    """The per-layer metrics BENCHMARK.json lists, in order, with units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("batch_lifecycle", "stream_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import notion_vector_store_etl_pipeline_spark  # noqa: F401
        import bench  # noqa: F401  (host-context helpers)
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    layer_units = _layer_units()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, work, layer_units)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, layer_units: dict[str, str]) -> int:
    trace = bool(args.trace)
    _environment(work)

    from batch import BatchLifecycle
    from notion_vector_store_etl_pipeline_spark import get_spark
    from stream import StreamIngest

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    ctx = Context(spark, work, args.seed)
    wl = {"batch_lifecycle": BatchLifecycle, "stream_ingest": StreamIngest}[args.workload](ctx, trace)
    try:
        setup = wl.setup()
        e2e, layer = wl.measure(args.seconds, trace)
    finally:
        wl.stop()
        spark.stop()
        _stop_jvm()
    report = layer.pop("__report")
    setup["setup.session_s"] = session_s
    e2e["setup_s"] = session_s + setup["setup.generate_s"] + setup["setup.build_s"] + setup["setup.warmup_s"]
    layer.update(setup)

    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "end_to_end": e2e, "per_layer": layer, "report": report,
            "attempted": wl.attempted, "failed": wl.failed, "failures": wl.failures}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out_file = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_file, "w") as f:
        json.dump(full, f, indent=1, default=float)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for k, v in e2e.items():
        print(f"{k:40s} {v:14.4f} {UNITS[k]}")
    for k, unit in REPORT_UNITS.items():
        if k in report:
            print(f"{k:40s} {report[k]:14.4f} {unit}")
    print(f"{'ops_failed_ratio':40s} {wl.failed / max(wl.attempted, 1):14.4f} ratio")
    for k in sorted(layer):
        print(f"  {k:38s} {float(layer[k]):14.4f}")
    for msg in wl.failures[:10]:
        print(f"FAILED: {msg}")

    if trace:
        missing = [n for n in layer_units if n not in layer]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {n: {"value": float(layer[n]), "unit": u} for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": float(v), "unit": UNITS[n]} for n, v in e2e.items()}
    print(json.dumps({"correct": not wl.failures, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
