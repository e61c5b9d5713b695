"""Scale smoke: replicate the sf0.1 fixtures 16x (~10M lineitem rows)
and run the heavy relational queries on the enlarged data, verifying
(a) they complete, (b) wall-clock grows ~linearly (no quadratic
surprise), (c) the physical plan keeps partial aggregation / top-k
pruning at the larger size.

Replication multiplies fact tables by cloning rows with shifted keys
(preserving join relationships), so join fan-outs stay realistic. This
derives strictly from the driver-provided fixtures — no new synthetic
distributions.

Usage: python scripts/scale_smoke.py [multiplier] (default 16)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from notion_vector_store_etl_pipeline_spark import get_spark
from notion_vector_store_etl_pipeline_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.1"


def replicate(df: DataFrame, mult: int, key_cols: dict[str, int]) -> DataFrame:
    """Union `mult` shifted copies. key_cols maps column -> shift stride
    (0 = leave unchanged, e.g. dimension FKs that must keep matching)."""
    reps = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep")
    out = df.select("*", reps)
    for col, stride in key_cols.items():
        if stride:
            out = out.withColumn(col, F.col(col) + F.col("rep") * F.lit(stride))
    return out.drop("rep")


def main() -> int:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    n_orders = orders.count()

    # shift order keys per replica so orders stay unique and lineitems
    # still join to exactly one order; customers are reused (fan-in, as
    # a dimension would be)
    big_li = replicate(li, mult, {"l_orderkey": n_orders * 10})
    big_orders = replicate(orders, mult, {"o_orderkey": n_orders * 10})

    base_rows = li.count()
    big_rows = big_li.count()
    print(f"lineitem: {base_rows:,} -> {big_rows:,} rows ({mult}x)")

    def q1(li_df):
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            li_df.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02")))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum(disc), 2).alias("sum_disc_price"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def q3(li_df, o_df):
        c = cust.filter(F.col("c_mktsegment") == "BUILDING")
        return (
            c.join(o_df, c.c_custkey == o_df.o_custkey)
            .join(li_df, li_df.l_orderkey == o_df.o_orderkey)
            .groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev"))
            .orderBy(F.col("rev").desc(), F.col("l_orderkey"))
            .limit(10)
        )

    def topk(li_df):
        from pyspark.sql.window import Window

        w = Window.partitionBy("l_suppkey").orderBy(F.col("l_extendedprice").desc(), "l_orderkey")
        return (
            li_df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
        )

    supp = load_table(spark, SF_DIR, "supplier")
    nation = load_table(spark, SF_DIR, "nation")

    def q7_snowflake(li_df, o_df):
        n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
        return (
            li_df.join(supp, li_df.l_suppkey == supp.s_suppkey)
            .join(o_df, li_df.l_orderkey == o_df.o_orderkey)
            .join(cust, o_df.o_custkey == cust.c_custkey)
            .join(n1, F.col("s_nationkey") == F.col("n1_key"))
            .groupBy("supp_nation", F.year("l_shipdate").alias("yr"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev"))
        )

    docs = load_table(spark, SF_DIR, "documents")
    big_docs = replicate(docs, mult, {"doc_id": 10_000_000})

    def tfidf(docs_df):
        from pyspark.sql.window import Window

        tok = docs_df.select(
            "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
        ).filter(F.col("term") != "")
        tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        scored = tf.join(F.broadcast(dfreq), "term")
        w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
        return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)

    def skew_join(li_df, o_df):
        # every third line item rehomed to ONE hot order key per replica:
        # a worst-case shuffle skew the optimizer must split (AQE
        # skewJoin) — per-key skew stays constant as data scales
        skewed = li_df.withColumn(
            "l_orderkey",
            F.when(F.col("l_linenumber") % 3 == 0, (F.col("l_orderkey") / (n_orders * 10)).cast("bigint") * (n_orders * 10) + 1)
            .otherwise(F.col("l_orderkey")),
        )
        return (
            skewed.join(o_df, skewed.l_orderkey == o_df.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("rev"),
            )
        )

    cases = {
        "q1_scan_agg": (lambda: q1(li), lambda: q1(big_li)),
        "q3_join_topk": (lambda: q3(li, orders), lambda: q3(big_li, big_orders)),
        "topk_per_group": (lambda: topk(li), lambda: topk(big_li)),
        "q7_snowflake": (lambda: q7_snowflake(li, orders), lambda: q7_snowflake(big_li, big_orders)),
        "tfidf_window": (lambda: tfidf(docs), lambda: tfidf(big_docs)),
        "skew_join_hot_key": (lambda: skew_join(li, orders), lambda: skew_join(big_li, big_orders)),
    }
    failures = []
    # Honest-bound caveat (r10 scripts review): t_small is warm and
    # fixed-overhead-dominated at sf0.1 while t_big is single-shot cold,
    # so the ratio is noisy in both directions — the mult*2.5 bound is a
    # coarse regression tripwire for grossly supralinear plans, not a
    # precise linearity proof; the per-operator scale claims rest on the
    # dedicated smokes (blocked_neardup/ivf), not this sweep.
    for name, (small, big) in cases.items():
        small().count()  # warm
        t0 = time.perf_counter(); small().count(); t_small = time.perf_counter() - t0
        t0 = time.perf_counter(); n = big().count(); t_big = time.perf_counter() - t0
        ratio = t_big / max(t_small, 1e-9)
        verdict = "OK" if ratio < mult * 2.5 else "SUPRALINEAR"
        if verdict != "OK":
            failures.append(name)
        print(
            f"{verdict:12s} {name}: {t_small:.2f}s -> {t_big:.2f}s "
            f"({ratio:.1f}x time for {mult}x data; rows={n})"
        )

    plan = q1(big_li)._jdf.queryExecution().executedPlan().toString()
    # 'partial_' is what actually proves map-side combine: a bare
    # 'HashAggregate' substring also matches the FINAL aggregate, so it
    # would pass even if the partial phase were lost (r10 scripts review)
    assert "HashAggregate" in plan and "partial_" in plan, (
        "partial aggregation missing at scale"
    )
    print("plan check: partial HashAggregate present at scale")

    # --- vector / dedup section (VERDICT r1 item 2 done-criterion) ---
    # Exact all-pairs cosine is O(n^2) WORK by definition; what must NOT
    # happen is a driver collect or a single-task hotspot. The block
    # self-join's wall-clock may grow up to ~vmult^2 (flops) but must
    # stay comfortably under it (bigger GEMMs amortize better), and the
    # LSH near-dup path must stay near-linear apart from the genuine
    # duplicate groups replication itself creates.
    from notion_vector_store_etl_pipeline_spark.operators.dedup import (
        minhash_neardup,
        release_cache,
    )
    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        cosine_selfjoin_pairs,
    )

    vmult = min(mult, 4)
    emb = load_table(spark, SF_DIR, "embeddings")
    big_emb = replicate(emb, vmult, {"vec_id": 10_000_000})

    def cos(e):
        return cosine_selfjoin_pairs(e, threshold=0.97)

    cos(emb).count()  # warm
    t0 = time.perf_counter(); cos(emb).count(); t_small = time.perf_counter() - t0
    t0 = time.perf_counter(); n = cos(big_emb).count(); t_big = time.perf_counter() - t0
    ratio = t_big / max(t_small, 1e-9)
    quad = vmult * vmult
    verdict = "OK" if ratio < quad * 1.5 else "SUPRAQUADRATIC"
    if verdict != "OK":
        failures.append("cosine_block_selfjoin")
    print(
        f"{verdict:12s} cosine_block_selfjoin: {t_small:.2f}s -> {t_big:.2f}s "
        f"({ratio:.1f}x time for {vmult}x vectors; quadratic work bound "
        f"{quad}x; rows={n})"
    )
    cplan = cos(big_emb)._jdf.queryExecution().executedPlan().toString()
    # presence of the GEMM stage alone wouldn't rule out a driver
    # collect+reparallelize elsewhere in the plan — that shape shows up
    # as LocalTableScan / Scan ExistingRDD, so assert their ABSENCE too
    # (the legitimate driver-free block list arrives via Range)
    assert "FlatMapGroupsInPandas" in cplan, "block GEMM stage missing"
    assert "LocalTableScan" not in cplan and "Scan ExistingRDD" not in cplan, (
        "driver-side materialization found in the selfjoin plan"
    )
    print("plan check: distributed FlatMapGroupsInPandas, no driver collect")

    small_docs = docs
    vbig_docs = replicate(docs, vmult, {"doc_id": 10_000_000})

    def lsh(d):
        return minhash_neardup(d, "text", "doc_id", threshold=0.8)

    lsh(small_docs).count()  # warm
    release_cache()
    t0 = time.perf_counter(); lsh(small_docs).count(); t_small = time.perf_counter() - t0
    release_cache()
    t0 = time.perf_counter(); n = lsh(vbig_docs).count(); t_big = time.perf_counter() - t0
    release_cache()
    ratio = t_big / max(t_small, 1e-9)
    # replication puts every doc in a vmult-sized exact-dup group, so
    # candidate pairs legitimately grow ~C(vmult,2)*n; the LSH pipeline
    # itself (signatures, banding, bucket join) must stay ~linear
    bound = max(vmult * 2.5, vmult * (vmult - 1) / 2 * 1.5)
    verdict = "OK" if ratio < bound else "SUPRALINEAR"
    if verdict != "OK":
        failures.append("minhash_lsh_neardup")
    print(
        f"{verdict:12s} minhash_lsh_neardup: {t_small:.2f}s -> {t_big:.2f}s "
        f"({ratio:.1f}x time for {vmult}x docs incl. dup-group blowup; rows={n})"
    )

    # --- round-2 kernels ---
    # SemDeDup: cluster-local pairwise — replication densifies every
    # cluster by vmult, so in-cluster work grows ~vmult^2 (same honest
    # bound as the exact cosine family), but it must distribute
    # (FlatMapGroupsInPandas, no collect) and stay under the bound.
    import numpy as np

    from notion_vector_store_etl_pipeline_spark.operators.similarity import (
        load_vectors_numpy,
        semdedup_prune,
    )

    c_ids_all, c_mat_all = load_vectors_numpy(spark, SF_DIR)
    sel = c_ids_all % 97 == 0
    c_ids_s, c_mat_s = c_ids_all[sel], c_mat_all[sel]

    def semdedup(e):
        vecs = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb"))
        return semdedup_prune(vecs, c_ids_s, c_mat_s, 0.97)

    semdedup(emb).count()  # warm
    t0 = time.perf_counter(); semdedup(emb).count(); t_small = time.perf_counter() - t0
    t0 = time.perf_counter(); n = semdedup(big_emb).count(); t_big = time.perf_counter() - t0
    ratio = t_big / max(t_small, 1e-9)
    verdict = "OK" if ratio < quad * 1.5 else "SUPRAQUADRATIC"
    if verdict != "OK":
        failures.append("semdedup_prune")
    print(
        f"{verdict:12s} semdedup_prune: {t_small:.2f}s -> {t_big:.2f}s "
        f"({ratio:.1f}x time for {vmult}x vectors; in-cluster quadratic bound {quad}x; rows={n})"
    )

    # Bloom pre-join: build + probe are both single-pass — must be ~linear.
    from notion_vector_store_etl_pipeline_spark.operators.bloom import (
        bloom_prejoin_semi,
    )

    def bloom(o_df, li_df):
        keys = o_df.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        return bloom_prejoin_semi(
            li_df.select("l_orderkey", "l_extendedprice"), keys, "l_orderkey", "o_orderkey"
        )

    bloom(orders, li).count()  # warm
    t0 = time.perf_counter(); bloom(orders, li).count(); t_small = time.perf_counter() - t0
    t0 = time.perf_counter(); n = bloom(big_orders, big_li).count(); t_big = time.perf_counter() - t0
    ratio = t_big / max(t_small, 1e-9)
    verdict = "OK" if ratio < mult * 2.5 else "SUPRALINEAR"
    if verdict != "OK":
        failures.append("bloom_prejoin_semi")
    print(
        f"{verdict:12s} bloom_prejoin_semi: {t_small:.2f}s -> {t_big:.2f}s "
        f"({ratio:.1f}x time for {mult}x rows; rows={n})"
    )

    spark.stop()
    print(f"{len(failures)} supralinear cases: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
