"""Value-hash parity for the chain-disposition family one decade up
(VERDICT r13 #6): the three registered chain queries against the
.scale/sf1 clone-clique corpus, where the policies discriminate
hardest (dense near-dup cliques, ~0.43M verified cosine pairs).

The registered DuckDB oracles replay the greedy first-wins walk as a
recursive CTE accumulating a survivor LIST — linear in ids but with
O(|survivors|) list ops per step, which is fine at the driver's
sf0.01/sf0.1 scales and quadratic-in-practice at sf1's pair density.
This script therefore runs the SAME oracle SQL up to and including the
materialized pair CTEs (sliced from the registered oracle string, so
the pair set can never drift from what the driver checks) and replays
only the walk itself iteratively in Python — the identical algorithm:
ids ascending, an id is flagged iff it has a verified pair with an
already-surviving lower id, output = pairs whose a_id survived.

Usage: python scripts/chain_parity_scale.py [sf_dir]
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

DEFAULT_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale/sf1"
)


def norm(v):
    if v is None:
        return "\x00<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def greedy_firstwins(pairs: list[tuple]) -> set:
    """Survivor ids of the greedy first-wins walk — the oracle CTE's
    algorithm, iterative: process pair-touching ids ascending; an id is
    flagged iff some pair (a, id) has a already surviving."""
    by_b: dict = {}
    ids = set()
    for a, b, *_ in pairs:
        by_b.setdefault(b, []).append(a)
        ids.add(a)
        ids.add(b)
    survivors: set = set()
    for i in sorted(ids):
        if not any(a in survivors for a in by_b.get(i, ())):
            survivors.add(i)
    return survivors


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF
    registry = load_registry()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        # driver fixtures are single files; .scale decades are
        # Spark-written directories of part files
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    failures = []
    for name, out_cols in (
        ("dedup_chain_sequential", ("a_id", "b_id", "jaccard")),
        ("neardup_chain_sequential_cosine", ("a_id", "b_id", "score")),
        ("neardup_probe_chain_cosine", ("batch_id", "corpus_id", "score")),
    ):
        q = registry[name]
        # everything before the walk CTEs — ends with the materialized
        # pair CTE(s) the walk consumes, verbatim from the registered
        # oracle
        import re

        prefix = re.split(r",\s*ord AS MATERIALIZED", q.oracle)[0]
        pairs = con.execute(prefix + " SELECT * FROM pairs_m").fetchall()
        survivors = greedy_firstwins(pairs)
        if name == "neardup_probe_chain_cosine":
            flags = con.execute(prefix + " SELECT * FROM corpus_flags").fetchall()
            want = [tuple(r) for r in flags] + [
                (b, a, s) for a, b, s in pairs if a in survivors
            ]
        else:
            want = [r for r in pairs if r[0] in survivors]
        drows = sorted(tuple(norm(v) for v in r) for r in want)

        sdf = q.fn(spark, sf_dir).select(*out_cols)
        srows = sorted(
            tuple(norm(v) for v in r) for r in (tuple(x) for x in sdf.collect())
        )
        ok = srows == drows
        print(
            f"{'OK  ' if ok else 'FAIL'} {name}: spark={len(srows)} "
            f"oracle={len(drows)} (pairs={len(pairs)})",
            flush=True,
        )
        if not ok:
            failures.append(name)
            so = [r for r in srows if r not in set(drows)][:3]
            do = [r for r in drows if r not in set(srows)][:3]
            print(f"  spark-only={so}\n  oracle-only={do}")
        release_cache()
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
