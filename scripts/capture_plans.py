"""Capture `.explain("formatted")` for registered queries to files —
the plan-evidence pages under plans/r14/ (OPTIMIZATION_r14.md): one
file per query per label, so before/after plan claims are checkable
without running Spark.

Usage:
    python scripts/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt with a provenance header (git
SHA of the worktree this runs in, sf dir). Queries whose fn() is
eager (stored-index builds, iterative loops) execute jobs during
plan construction; the captured plan is the plan of the RETURNED
DataFrame, same as what bench.py's noop sink executes.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.plans import load_registry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_formatted(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    registry = load_registry()
    spark = get_spark(app_name="nve-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    if not names:
        names = list(registry)
    for name in names:
        try:
            df = registry[name].fn(spark, SF_DIR)
            plan = explain_formatted(df)
        except Exception as e:  # capture what we can, keep going
            plan = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- query: {name}\n-- code: {sha}\n-- sf_dir: {SF_DIR}\n\n")
            f.write(plan)
            f.write("\n")
        print(f"wrote {path}", flush=True)
        release_cache()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
