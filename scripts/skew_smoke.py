"""Adversarial-skew smoke (round 7): time the near-dup family on the
uniform sf1 decade vs the skewed corpus (.scale/sf1skew — a ~2,500-doc
template cluster in documents, a ~1,000-vector clique in embeddings;
see scripts/make_skew_corpus.py) and report the ratio per query plus
output cardinalities.

Method mirrors bench.py: noop sink (full materialization), tracked-
persist + catalog cache cleared before every timed trial, min of 2
trials. Queries run by registry name, so what is timed is exactly the
registered production operator.

Usage: python scripts/skew_smoke.py [uniform_dir] [skew_dir] [names...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.plans import load_registry

DEFAULT_QUERIES = (
    # documents-side: the template cluster
    "dedup_exact_hash",  # skew-invariant control (hash groupBy)
    "minhash_lsh_neardup",  # dense-bucket star guard
    "ngram_jaccard_selfjoin",  # hot-shingle cap (brute baseline)
    "ngram_jaccard_prefixfilter_capped",  # hot-shingle cap (prefix path)
    "ngram_jaccard_prefixfilter",  # UNCAPPED: documents the Theta(m^2)
    # true-output cost honestly — no mechanism can shrink real output
    "minhash_neardup_components",  # LSH pairs -> components (r7)
    "minhash_incremental_probe",  # batch-x-corpus probe (r7)
    "minhash_probe_stored_index",  # probe over the stored index (r8)
    # embeddings-side: the vector clique
    "neardup_components",  # clique converges in one label iteration
    "neardup_cluster_survivors",
)


def main() -> int:
    uniform = sys.argv[1] if len(sys.argv) > 1 else ".scale/sf1"
    skew = sys.argv[2] if len(sys.argv) > 2 else ".scale/sf1skew"
    names = sys.argv[3:] or list(DEFAULT_QUERIES)
    registry = load_registry()
    spark = get_spark(app_name="skew-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def timed(name: str, sf_dir: str) -> tuple[float, int]:
        fn = registry[name].fn
        # one UNTIMED warmup per (query, corpus): the iterative/UDF-heavy
        # operators are JIT-dominated on their first session execution,
        # and the uniform corpus always runs first — without the warmup
        # the uniform numbers absorb the JIT cost and the skew ratios
        # read better than they are
        release_cache()
        run(fn(spark, sf_dir))
        trials = []
        for _ in range(2):
            release_cache()
            t0 = time.perf_counter()
            run(fn(spark, sf_dir))
            trials.append(time.perf_counter() - t0)
        release_cache()
        rows = fn(spark, sf_dir).count()
        release_cache()
        return min(trials), rows

    # warm JVM + Arrow workers
    run(registry["dedup_exact_hash"].fn(spark, uniform))

    results = {}
    for name in names:
        tu, ru = timed(name, uniform)
        ts, rs = timed(name, skew)
        results[name] = {
            "uniform_s": round(tu, 3),
            "skew_s": round(ts, 3),
            "ratio": round(ts / tu, 2) if tu else None,
            "uniform_rows": ru,
            "skew_rows": rs,
        }
        print(json.dumps({name: results[name]}), flush=True)

    print(json.dumps({"skew_smoke": results}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
