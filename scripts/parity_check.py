"""Standalone oracle-parity sweep at an arbitrary scale factor —
mirrors the driver's CORRECTNESS comparison (row count + columns +
order-insensitive values) for every registered query.

Usage: python scripts/parity_check.py [sf_dir] [name_prefix]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.plans import load_registry
from notion_vector_store_etl_pipeline_spark.sources import TABLES


def norm(v):
    if v is None:
        return "\x00<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry = load_registry()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    failures = []
    for name in sorted(registry):
        if not name.startswith(prefix):
            continue
        q = registry[name]
        if q.oracle is None:
            n = q.fn(spark, sf_dir).count()
            print(f"ROWS-ONLY {name}: {n} rows", flush=True)
            continue
        sdf = q.fn(spark, sf_dir)
        cols = sdf.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        srows = sorted(tuple(norm(r[i]) for i in order) for r in (tuple(x) for x in sdf.collect()))
        cur = con.execute(q.oracle)
        dcols = [d[0] for d in cur.description]
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        drows = sorted(tuple(norm(r[i]) for i in dorder) for r in cur.fetchall())
        ok = sorted(cols) == sorted(dcols) and srows == drows
        print(f"{'OK  ' if ok else 'FAIL'} {name}: spark={len(srows)} duck={len(drows)}", flush=True)
        if not ok:
            failures.append(name)
            so = [r for r in srows if r not in drows][:3]
            do = [r for r in drows if r not in srows][:3]
            print(f"  cols spark={sorted(cols)} duck={sorted(dcols)}")
            print(f"  spark-only={so}")
            print(f"  duck-only={do}")
        # queries that persist intermediates (registry contract caveat
        # in plans.__init__) would otherwise accumulate executor memory
        # across the full-registry sweep
        release_cache()
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
