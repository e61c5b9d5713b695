"""Per-job profile of registry queries via the Spark UI REST API —
the measurement tool for driver-action-bound iterative operators
(VERDICT r14 #2/#3): how many Spark jobs does one fn()+noop execution
launch, and where does the wall-clock go?

Usage:
    python scripts/profile_jobs.py <query> [query ...]

For each query: runs it once cold (caches cleared), prints one line
per Spark job (duration, stage count, task count, name) and a total,
then a summary table. Uses a UI-enabled session (bench.py's session
has spark.ui.enabled=false, so this is a separate profiling entry
point; timings here are NOT bench numbers — use them for job counts
and relative phase weights only).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.error
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from notion_vector_store_etl_pipeline_spark.operators.bloom import clear_sketch_memo
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.plans import load_registry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark_ui():
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    return (
        SparkSession.builder.appName("nve-profile-jobs")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .getOrCreate()
    )


def rest(app_id: str, path: str):
    url = f"http://localhost:4050/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def stage_run_ms(app_id: str, sid: int) -> int:
    """Executor run time of one stage's completed attempts. A skipped
    stage (its exchange or cache reused) is listed in the job's
    stageIds but has no attempts, so the REST lookup is a 404: it ran
    for 0 ms."""
    try:
        attempts = rest(app_id, f"/stages/{sid}")
    except urllib.error.HTTPError as e:
        if e.code == 404:
            return 0
        raise
    return sum(s.get("executorRunTime", 0) for s in attempts if s.get("status") == "COMPLETE")


def main() -> int:
    names = sys.argv[1:]
    registry = load_registry()
    spark = get_spark_ui()
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    def run(df):
        df.write.mode("overwrite").format("noop").save()

    # warm the JVM + arrow workers so job 0 isn't JVM startup
    run(registry["agg_group_sum"].fn(spark, SF_DIR))

    for name in names:
        release_cache()
        clear_sketch_memo()
        jobs_before = {j["jobId"] for j in rest(app_id, "/jobs")}
        t0 = time.perf_counter()
        run(registry[name].fn(spark, SF_DIR))
        elapsed = time.perf_counter() - t0
        time.sleep(0.3)
        jobs = [j for j in rest(app_id, "/jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        total_job_ms = 0
        print(f"\n=== {name}: {elapsed:.3f}s wall, {len(jobs)} jobs ===")
        for j in jobs:
            # job timestamps have second resolution; sum stage metrics instead
            dur_ms = sum(stage_run_ms(app_id, sid) for sid in j["stageIds"])
            total_job_ms += dur_ms
            nm = (j.get("name") or "")[:90]
            print(
                f"  job {j['jobId']:>4}  stages={len(j['stageIds']):>2} "
                f"tasks={j['numTasks']:>5} execRunTime={dur_ms/1000.0:8.3f}s  {nm}"
            )
        print(
            f"  total executorRunTime {total_job_ms/1000.0:.3f}s across "
            f"{len(jobs)} jobs; wall {elapsed:.3f}s "
            f"(fixed per-job floor ~= wall - max-parallel run time)"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
