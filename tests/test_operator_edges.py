"""Edge-case pins for the r10 plan-registry review findings — behaviors
the oracle-parity gate cannot reach because the fixtures never produce
them: duplicate probe rows through the Bloom pre-filter, '+'/malformed
escapes through url_basename, the salted-join spreader under ANSI mode,
and graph_pagerank's persists being freed by release_cache().
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.functions import strings as S
from notion_vector_store_etl_pipeline_spark.operators.bloom import bloom_prejoin_semi
from notion_vector_store_etl_pipeline_spark.operators.skew import salted_join

from tests.conftest import SF_SMOKE, pinned_rdds


def test_url_basename_mirrors_python_unquote(spark):
    """The reference decodes with urllib.parse.unquote (:63-69): '+' is
    a literal, malformed '%' never raises. F.url_decode alone does
    neither — '+' becomes a space and a bad escape is an ANSI abort."""
    rows = [
        (1, "https://x.com/a/doc%20name.pdf?q=1"),  # %20 decodes
        (2, "https://x.com/a/a+b.pdf"),  # '+' stays literal
        (3, "https://x.com/a/100%table.pdf"),  # malformed: raw, no abort
        (4, "https://x.com/dir/sub%2Fname.txt"),  # %2F decodes
        (5, "?x=1"),  # empty basename -> NULL
    ]
    df = spark.createDataFrame(rows, "id: long, url: string")
    got = {
        r.id: r.b
        for r in df.select("id", S.url_basename(F.col("url")).alias("b")).collect()
    }
    assert got[1] == "doc name.pdf"
    assert got[2] == "a+b.pdf"
    assert got[3] == "100%table.pdf"
    assert got[4] == "sub/name.txt"
    assert got[5] is None


def test_bloom_prejoin_keeps_duplicate_probe_rows(spark):
    """Semi-join semantics keep BOTH copies of a duplicated probe row.
    The old hit-count regroup keyed on the row's columns: duplicates
    merged, their 2k combined hits failed the == k gate, and both
    copies vanished from an operator documented as EXACT."""
    probe = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (9, "z")], "k: long, v: string"
    )
    build = spark.createDataFrame([(1,), (2,)], "bk: long")
    out = bloom_prejoin_semi(probe, build, "k", "bk")
    assert sorted(r.k for r in out.collect()) == [1, 1, 2]


def test_salted_join_matches_unsalted(spark):
    """Salting must not change join semantics — including rows whose
    xxhash64 lands anywhere in the 64-bit range (the spreader hashes
    the row id INTO xxhash64 instead of adding it afterwards, which
    under ANSI mode could overflow and abort the job)."""
    fact = spark.createDataFrame([(i % 3, i) for i in range(100)], "k: long, v: long")
    dim = spark.createDataFrame([(0, "x"), (1, "y")], "dk: long, name: string")
    got = salted_join(fact, dim, "k", "dk").select("k", "v", "name")
    exp = fact.join(dim, fact.k == dim.dk).select("k", "v", "name")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_graph_pagerank_persists_are_tracked(spark):
    """graph_pagerank's two loop-invariant persists (nodes, edge⋈degree)
    outlive the call, because the returned plan reads them; long-lived
    sessions free them between queries with release_cache() (the
    ADVICE-r6 problem of caches held for the session lifetime)."""
    from notion_vector_store_etl_pipeline_spark.operators import cache
    from notion_vector_store_etl_pipeline_spark.plans.graph_queries import (
        graph_pagerank,
    )

    cache.release_cache()
    before = pinned_rdds(spark)
    graph_pagerank(spark, SF_SMOKE).count()
    assert pinned_rdds(spark) >= before + 2
    cache.release_cache()
    assert pinned_rdds(spark) == before


def test_group_normalize_single_member_group_is_null_not_nan(spark, tmp_path):
    """A single-member (or zero-variance) label group must z-score to
    NULL, matching the oracle's nullif(stddev,0) division — the old
    code shipped NaN doubles, which the parity hash distinguishes from
    NULL ('NaN' vs the null token). The shipped fixtures have no such
    group, so this crafts one and runs BOTH engines on it."""
    import duckdb

    from notion_vector_store_etl_pipeline_spark.plans import load_registry

    emb = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.0, 2.0]),
            (3, 0, [3.0, 0.0]),
            (4, 7, [5.0, 0.0]),  # label 7 has ONE member -> sd undefined
        ],
        "vec_id: long, label: int, embedding: array<double>",
    )
    sf = str(tmp_path)
    emb.write.parquet(f"{sf}/embeddings.parquet")

    q = load_registry()["group_normalize_pandas"]
    got = {r.vec_id: r.z_norm for r in q.fn(spark, sf).collect()}
    assert got[4] is None, f"single-member group produced {got[4]!r}, not NULL"

    con = duckdb.connect()
    # Spark wrote a DIRECTORY (the real fixtures are single files) —
    # DuckDB needs the part-file glob
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet/*.parquet')"
    )
    want = {r[0]: r[2] for r in con.execute(q.oracle).fetchall()}
    for vid in got:
        if want[vid] is None:
            assert got[vid] is None
        else:
            assert abs(got[vid] - want[vid]) < 1e-9, (vid, got[vid], want[vid])


def test_salt_assignment_is_content_deterministic(spark):
    """The skew spreader must assign the same bucket to the same row
    bytes across independent evaluations (no cache): a salt derived
    from monotonically_increasing_id / rand can re-scatter rows when a
    lost map task is recomputed, double-counting or dropping rows in
    salted_count's (key, salt) phase-1 shuffle (VERDICT r11 finding)."""
    from notion_vector_store_etl_pipeline_spark.operators.skew import _content_salt

    base = spark.createDataFrame(
        [(i % 3, f"payload-{i}") for i in range(200)], "k: long, v: string"
    )
    df = base.withColumn("__salt", _content_salt(base, 16))
    a = {(r["k"], r["v"]): r["__salt"] for r in df.collect()}
    b = {(r["k"], r["v"]): r["__salt"] for r in df.collect()}  # fresh action, no cache
    assert a == b
    # the spreader actually spreads a hot key over many buckets
    assert len({s for (k, _v), s in a.items() if k == 0}) > 4


def test_salted_count_matches_plain_groupby(spark):
    from notion_vector_store_etl_pipeline_spark.operators.skew import salted_count

    df = spark.createDataFrame(
        [(i % 3 if i < 900 else 99, f"p{i}") for i in range(1000)],
        "k: long, v: string",
    )
    got = {r.k: r.n_rows for r in salted_count(df, "k").collect()}
    exp = {r.k: r.n for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert got == exp


# Retry-replay pin (VERDICT r11 #1): a transiently-failing upstream stage
# forces Spark to recompute map tasks that carry the salt assignment; the
# deterministic content salt must reproduce the exact unsalted results.
# Runs in its own JVM: local[4, 2] enables task retries (the shared test
# session's default local master fails the job on first task failure).
_SALT_RETRY_SCRIPT = """
import os, sys
from pyspark.sql import SparkSession, functions as F
from notion_vector_store_etl_pipeline_spark.operators.skew import salted_count, salted_join

marker_dir = sys.argv[1]
spark = (SparkSession.builder.master("local[4, 2]").appName("salt-retry-test")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

def flaky(it):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    marker = os.path.join(marker_dir, f"{ctx.stageId()}_p{ctx.partitionId()}")
    if not os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("transient failure on first attempt")
    for pdf in it:
        yield pdf

# skewed fact: key 0 dominates
rows = [(i % 3 if i < 900 else 99, i) for i in range(1000)]
fact = spark.createDataFrame(rows, "k: long, v: long").repartition(4)
flaky_fact = fact.mapInPandas(flaky, fact.schema)

got = {r.k: r.n_rows for r in salted_count(flaky_fact, "k").collect()}
exp = {0: 300, 1: 300, 2: 300, 99: 100}
assert got == exp, (got, exp)

dim = spark.createDataFrame([(0, "x"), (99, "y")], "dk: long, name: string")
j = salted_join(flaky_fact, dim, "k", "dk").select("k", "v", "name")
got_j = sorted(map(tuple, j.collect()))
exp_j = sorted(map(tuple, fact.join(dim, fact.k == dim.dk)
                   .select("k", "v", "name").collect()))
assert got_j == exp_j, (len(got_j), len(exp_j))

# key-only frame: the degenerate path salts by the per-partition
# ordinal (VERDICT r12 #4) — counts must still replay exactly under
# injected task failure (whole-stage indeterminate rerun)
dup = spark.createDataFrame([(7,)] * 2000 + [(1,)] * 10, "k: long").repartition(4)
flaky_dup = dup.mapInPandas(flaky, dup.schema)
got_d = {r.k: r.n_rows for r in salted_count(flaky_dup, "k").collect()}
assert got_d == {7: 2000, 1: 10}, got_d

assert len(os.listdir(marker_dir)) > 0  # failures actually happened
print("SALT_RETRY_OK", len(got_j))
spark.stop()
"""


@pytest.mark.slow
def test_salted_ops_survive_task_retry(tmp_path):
    import subprocess
    import sys

    marker_dir = str(tmp_path / "attempts")
    os.makedirs(marker_dir, exist_ok=True)
    proc = subprocess.run(
        [sys.executable, "-c", _SALT_RETRY_SCRIPT, marker_dir],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "SALT_RETRY_OK" in proc.stdout


def test_salted_ops_tolerate_map_columns(spark):
    """xxhash64 rejects MAP-typed input at analysis time; the content
    salt must skip such columns (including maps nested in structs)
    instead of failing the whole operator — a regression risk vs the
    old id-based salt, which was schema-agnostic."""
    from notion_vector_store_etl_pipeline_spark.operators.skew import (
        salted_count,
        salted_join,
    )

    df = spark.createDataFrame(
        [(i % 3, {"a": i}, (i, {"b": "x"})) for i in range(60)],
        "k: long, m: map<string,int>, s: struct<x: long, y: map<string,string>>",
    )
    got = {r.k: r.n_rows for r in salted_count(df, "k").collect()}
    assert got == {0: 20, 1: 20, 2: 20}
    dim = spark.createDataFrame([(0, "z")], "dk: long, name: string")
    assert salted_join(df, dim, "k", "dk").count() == 20
    # all-map payload: loud, actionable error instead of an opaque
    # analysis exception
    only_map = spark.createDataFrame([({"a": 1},)], "m: map<string,int>")
    with pytest.raises(ValueError, match="hashable"):
        salted_count(only_map, "m").collect()


def test_salted_count_spreads_identical_rows(spark):
    """VERDICT r12 #4: byte-identical hot rows (a key-only frame — the
    content salt degenerates to a pure function of the key) must still
    spread over multiple salt buckets via the ordinal fallback, and the
    counts must equal the plain groupBy."""
    from notion_vector_store_etl_pipeline_spark.operators.skew import (
        _count_salt,
        salted_count,
    )

    n = 100_000
    df = spark.createDataFrame([(7,)] * n + [(1,)] * 5, "k: long").repartition(8)
    # >1 bucket utilized for the duplicate-row hot key
    buckets = (
        df.filter(F.col("k") == 7)
        .withColumn("__salt", _count_salt(df, "k", 16))
        .select("__salt")
        .distinct()
        .count()
    )
    assert buckets > 1, f"identical rows collapsed into {buckets} salt bucket"
    got = {r.k: r.n_rows for r in salted_count(df, "k").collect()}
    assert got == {7: n, 1: 5}
    # payload-bearing frames keep the retry-stable content salt
    from notion_vector_store_etl_pipeline_spark.operators.skew import (
        _degenerate_payload,
    )

    with_payload = spark.createDataFrame([(7, "a"), (7, "b")], "k: long, v: string")
    assert not _degenerate_payload(with_payload, ["k"])
    assert _degenerate_payload(df, ["k"])


def test_salted_join_warns_on_degenerate_fact_payload(spark):
    """ADVICE r12: a fact side whose only hashable columns are the key
    loses all skew spread under the content salt — the caller must get
    a signal (warning), while the join stays correct."""
    import warnings as _warnings

    from notion_vector_store_etl_pipeline_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1,)] * 50 + [(2,)] * 3, "k: long")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "dk: long, name: string")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out = salted_join(fact, dim, "k", "dk")
        assert any("no hashable non-key payload" in str(w.message) for w in caught)
    got = {(r.k, r.name) for r in out.collect()}
    assert got == {(1, "x"), (2, "y")}
    assert out.count() == 53
    # payload-bearing fact: no warning
    fact2 = spark.createDataFrame([(1, 10), (2, 20)], "k: long, v: long")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        salted_join(fact2, dim, "k", "dk")
        assert not any("non-key payload" in str(w.message) for w in caught)


def test_bloom_sketch_memoized_per_build_side(spark, monkeypatch):
    """Second probe against the same build side must reuse the memoized
    dense words row instead of re-running the build-side scan + driver
    collect (a fixed per-query cost the stored-index shape amortizes).
    A semantically different build side or different params rebuilds."""
    from notion_vector_store_etl_pipeline_spark.operators import bloom

    bloom.clear_sketch_memo()
    builds = {"n": 0}
    real_build = bloom.bloom_build

    def counting_build(*a, **kw):
        builds["n"] += 1
        return real_build(*a, **kw)

    monkeypatch.setattr(bloom, "bloom_build", counting_build)

    probe = spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")], "k: long, v: string")
    build = spark.createDataFrame([(1,), (2,)], "bk: long")
    first = sorted(r.k for r in bloom.bloom_prejoin_semi(probe, build, "k", "bk").collect())
    second = sorted(r.k for r in bloom.bloom_prejoin_semi(probe, build, "k", "bk").collect())
    assert first == second == [1, 2]
    assert builds["n"] == 1  # sketch built exactly once

    # different params -> separate sketch
    bloom.bloom_words_row(build, "bk", m_bits=1 << 10, k=2)
    assert builds["n"] == 2
    # semantically different build side -> rebuild (and correctness holds)
    build2 = spark.createDataFrame([(9,)], "bk: long")
    got = sorted(r.k for r in bloom.bloom_prejoin_semi(probe, build2, "k", "bk").collect())
    assert got == [9]
    assert builds["n"] == 3
    # explicit invalidation hook for callers that rewrite underlying files
    bloom.clear_sketch_memo()
    bloom.bloom_words_row(build, "bk")
    assert builds["n"] == 4
    bloom.clear_sketch_memo()


def test_bloom_memo_invalidates_on_file_rewrite(spark, tmp_path):
    """ADVICE r12: re-reading the same parquet PATH after a rewrite is
    semantically equal to the old plan, so a plan-keyed memo would
    serve the stale sketch — and the semi-filter would silently DROP
    probe rows that now match. Reuse must be gated on the file-index
    snapshot: the rewrite rebuilds the sketch with no explicit
    clear_sketch_memo() call."""
    from notion_vector_store_etl_pipeline_spark.operators import bloom

    bloom.clear_sketch_memo()
    path = str(tmp_path / "build_keys")
    spark.createDataFrame([(1,), (2,)], "bk: long").write.mode("overwrite").parquet(path)
    probe = spark.createDataFrame([(1, "a"), (9, "z")], "k: long, v: string")

    build = spark.read.parquet(path)
    first = sorted(
        r.k for r in bloom.bloom_prejoin_semi(probe, build, "k", "bk").collect()
    )
    assert first == [1]

    # rewrite the SAME path with a different key set; same plan shape
    spark.createDataFrame([(9,)], "bk: long").write.mode("overwrite").parquet(path)
    build2 = spark.read.parquet(path)
    second = sorted(
        r.k for r in bloom.bloom_prejoin_semi(probe, build2, "k", "bk").collect()
    )
    assert second == [9], "stale memoized sketch served after file rewrite"
    bloom.clear_sketch_memo()


def test_bloom_memo_disabled_beyond_stat_cap(spark, tmp_path, monkeypatch):
    """VERDICT r13 #8: a build side whose file listing exceeds
    _SNAPSHOT_STAT_CAP must DISABLE the memo (rebuild every call), not
    gate reuse on names alone — an in-place same-name overwrite on a
    >cap relation would otherwise serve a stale sketch."""
    from notion_vector_store_etl_pipeline_spark.operators import bloom

    bloom.clear_sketch_memo()
    monkeypatch.setattr(bloom, "_SNAPSHOT_STAT_CAP", 2)
    path = str(tmp_path / "many_parts")
    spark.createDataFrame([(i,) for i in range(8)], "bk: long").repartition(
        4
    ).write.mode("overwrite").parquet(path)
    build = spark.read.parquet(path)
    assert len(build.inputFiles()) > 2  # actually beyond the cap
    assert bloom._input_snapshot(build) is None

    builds = {"n": 0}
    real_build = bloom.bloom_build

    def counting_build(*a, **kw):
        builds["n"] += 1
        return real_build(*a, **kw)

    monkeypatch.setattr(bloom, "bloom_build", counting_build)
    bloom.bloom_words_row(build, "bk")
    bloom.bloom_words_row(build, "bk")
    assert builds["n"] == 2, "memo reused beyond the stat cap"
    bloom.clear_sketch_memo()


def test_bloom_memo_requires_local_relation_for_fileless_plans(spark):
    """ADVICE r13: an empty inputFiles() list is NOT proof of a
    LocalRelation — non-file relations (JDBC, DSv2, Range) also report
    no files, and their content is not pinned by plan semantics. Only
    an actual LocalRelation-leaved plan takes the reuse path."""
    from notion_vector_store_etl_pipeline_spark.operators import bloom

    local = spark.createDataFrame([(1,), (2,)], "bk: long")
    assert local.inputFiles() == []
    assert bloom._input_snapshot(local) == ()

    # Range: fileless but not a LocalRelation -> never-reuse (None)
    rng = spark.range(3).withColumnRenamed("id", "bk")
    assert rng.inputFiles() == []
    assert bloom._input_snapshot(rng) is None


def test_ivf_sidecar_memo_invalidates_on_rewrite(spark, tmp_path):
    """The centroid-sidecar memo (VERDICT r13 #1) follows the bloom
    sketch memo's discipline: reuse is gated on the sidecar dir's file
    snapshot, so rewriting an index at the SAME path re-reads the
    centroids — no clear_centroid_memo() call needed — while an
    unchanged path is served from the memo (one collect total)."""
    import numpy as np

    from notion_vector_store_etl_pipeline_spark.operators import similarity as S

    S.clear_centroid_memo()
    path = str(tmp_path / "ivf")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id: long, emb: array<double>"
    )
    c1 = (np.array([0], dtype=np.int64), np.array([[1.0, 0.0]]))
    S.write_ivf_index(
        spark, S.quantize_and_assign(vecs, *c1, topn=1, emb_col="emb"), *c1, path
    )
    ids_a, mat_a = S.load_ivf_sidecar(spark, path)
    ids_b, mat_b = S.load_ivf_sidecar(spark, path)
    assert mat_b is mat_a, "unchanged sidecar should hit the memo"
    assert list(mat_a[0]) == [1.0, 0.0]

    # rewrite the SAME path with different centroids -> fresh read
    c2 = (np.array([0], dtype=np.int64), np.array([[0.0, 1.0]]))
    S.write_ivf_index(
        spark, S.quantize_and_assign(vecs, *c2, topn=1, emb_col="emb"), *c2, path
    )
    ids_c, mat_c = S.load_ivf_sidecar(spark, path)
    assert list(mat_c[0]) == [0.0, 1.0], "stale memoized sidecar after rewrite"
    S.clear_centroid_memo()


def test_memo_df_version_key_contract(spark, tmp_path):
    """operators.cache.memo_df: same key -> the SAME DataFrame object
    (no re-listing); a bumped version component -> a fresh build that
    sees the new files. The version key is the invalidation contract —
    callers bump it exactly when the covered trees can change."""
    from notion_vector_store_etl_pipeline_spark.operators import cache as C

    C.clear_df_memo()
    path = str(tmp_path / "tree")
    spark.createDataFrame([(1,)], "x: long").write.mode("append").parquet(path)
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.read.parquet(path)

    a = C.memo_df(spark, ("t", path, 1), build)
    b = C.memo_df(spark, ("t", path, 1), build)
    assert a is b and builds["n"] == 1
    assert a.count() == 1

    # new files land; the version-1 plan deliberately does NOT see
    # them (its listing snapshot is the point) ...
    spark.createDataFrame([(2,)], "x: long").write.mode("append").parquet(path)
    assert a.count() == 1
    # ... and the version-2 key rebuilds against the current listing
    c = C.memo_df(spark, ("t", path, 2), build)
    assert builds["n"] == 2 and c.count() == 2
    C.clear_df_memo()
