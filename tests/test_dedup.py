"""Dedup-operator validation (SURVEY.md §5): MinHash-LSH recall against
exact Jaccard ground truth, SimHash determinism + near-dup behavior,
exact-dedup first-wins semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("lazy", "sleepy")),  # near-dup of 1
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "completely different text about spark dataframes and shuffles today"),
        (6, "unrelated short note"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_exact_dedup_first_wins(spark):
    df = _corpus(spark)
    out = D.exact_dedup(df)
    survivors = {r.doc_id: r.group_size for r in out.collect()}
    assert survivors[1] == 2  # 1 and 2 collapse, min id wins
    assert 2 not in survivors
    assert set(survivors) == {1, 3, 4, 5, 6}


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO   WORLD ")],
        "doc_id: long, text: string",
    )
    out = D.exact_dedup(df)
    assert [r.doc_id for r in out.collect()] == [1]


def test_minhash_lsh_recall_on_high_jaccard_pairs(spark):
    df = _corpus(spark)
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.jaccard_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in exact and exact[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in exact  # near dup shares most shingles
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.minhash_neardup(df, threshold=0.5).collect()
    }
    # identical docs always collide in every band -> guaranteed recall
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 3) in got or (1, 3) in got  # high-jaccard near-dups found
    # verification step: every reported pair is a true >= threshold pair
    for pair, j in got.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-9


def test_minhash_checkable_path_matches_default_semantics(spark):
    """The sha60/replayable-bucket path (what the registered
    minhash_lsh_neardup query runs) must behave like the xxhash64 hot
    path: precision 1 (every emitted pair is a true >= threshold pair)
    and guaranteed recall on exact duplicates."""
    df = _corpus(spark)
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.jaccard_pairs(df, threshold=0.5).collect()
    }
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.minhash_neardup(df, threshold=0.5, checkable=True).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    for pair, j in got.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-9


def test_minhash_lsh_recall_vs_exact_on_fixtures(spark):
    """The recall-vs-exact gate, moved OUT of the registered production
    query (r6 verdict item 1): at 100 TB the all-pairs exact denominator
    is the scale-killer, so it is asserted here at fixture scale
    (sf0.01, 500 docs) instead of executing inside the operator. Both
    hash paths (xxhash64 hot, sha60 checkable) must recover >= 70% of
    the exact-Jaccard >= 0.2 pairs; measured 1.0 on the fixtures."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    exact = {
        (r.a_id, r.b_id)
        for r in D.jaccard_pairs(docs, threshold=0.2).collect()
    }
    release_cache()
    assert exact, "fixtures must contain at least one exact near-dup pair"
    for checkable in (False, True):
        found = {
            (r.a_id, r.b_id)
            for r in D.minhash_neardup(
                docs, threshold=0.2, checkable=checkable
            ).collect()
        }
        release_cache()
        recall = len(exact & found) / len(exact)
        assert recall >= 0.7, f"checkable={checkable}: recall {recall:.3f} < 0.7"
        # precision 1 by construction: every emitted pair is exact-verified
        assert found <= exact


def test_minhash_verification_kills_false_positives(spark):
    df = _corpus(spark)
    got = D.minhash_neardup(df, threshold=0.9).collect()
    pairs = {(r.a_id, r.b_id) for r in got}
    # only the exact duplicate survives a 0.9 threshold
    assert pairs == {(1, 2)}


def _template_cluster(spark, n=120):
    """n docs sharing one boilerplate template, each with a few unique
    trailing words — the adversarial-skew shape a real web corpus
    guarantees (one template page replicated across a site). NOT exact
    duplicates, so exact dedup does not collapse them; pairwise Jaccard
    is high, and identical-prefix shingling makes every doc collide in
    (mostly) the same LSH buckets."""
    template = " ".join(f"boiler{i}" for i in range(40))
    rows = [(i, f"{template} unique{i}a unique{i}b") for i in range(1, n + 1)]
    rows.append((n + 1, "entirely unrelated text about spark adaptive execution"))
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _components(pairs):
    """Tiny union-find over (a_id, b_id) pairs -> {node: root}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dense_bucket_cap_linear_candidates_on_template_cluster(spark):
    """The skew guard: one 120-doc template cluster must yield O(n) star
    candidates, not n^2/2 pairs, and the emitted verified pairs must
    induce the SAME connected components as the uncapped all-pairs run
    (the property 100 TB dedup actually needs)."""
    df = _template_cluster(spark)
    sigs = D.minhash_signatures(df)
    capped = D.minhash_lsh_candidates(sigs, dense_bucket_cap=64).count()
    release_cache()
    uncapped = D.minhash_lsh_candidates(sigs, dense_bucket_cap=None).count()
    release_cache()
    # nearly every pair collides (a doc's unique-word shingles can steal
    # one band's minimum): the uncapped candidate set is ~n^2/2
    assert uncapped >= 0.95 * (120 * 119 // 2)
    # at most one star + one chain edge per member per band: linear in n
    assert capped <= 16 * 119

    got_capped = {
        (r.a_id, r.b_id)
        for r in D.minhash_neardup(df, threshold=0.5).collect()
    }
    release_cache()
    got_uncapped = {
        (r.a_id, r.b_id)
        for r in D.minhash_neardup(df, threshold=0.5, dense_bucket_cap=None).collect()
    }
    release_cache()
    assert got_capped < got_uncapped  # star subset of the full pair list
    assert _components(got_capped) == _components(got_uncapped)
    # every cluster member reaches the representative
    assert {b for _, b in got_capped} | {a for a, _ in got_capped} == set(range(1, 121))


def test_dense_bucket_cap_is_inert_on_uniform_corpus(spark):
    """With no bucket above the cap, the guarded path must emit exactly
    the uncapped pair set — the production default cannot change results
    on a healthy corpus."""
    df = _corpus(spark)
    for checkable in (False, True):
        a = {
            (r.a_id, r.b_id, r.jaccard)
            for r in D.minhash_neardup(df, threshold=0.5, checkable=checkable).collect()
        }
        release_cache()
        b = {
            (r.a_id, r.b_id, r.jaccard)
            for r in D.minhash_neardup(
                df, threshold=0.5, checkable=checkable, dense_bucket_cap=None
            ).collect()
        }
        release_cache()
        assert a == b


def test_dense_bucket_cap_pairs_always_subset(spark):
    """Soundness invariant of the star guard on an arbitrary mixed
    corpus (template cluster + organic docs + unrelated docs): the
    guarded verified pair set is ALWAYS a subset of the unguarded one
    (star edges are a subset of each dense bucket's pairs, and
    verification is identical), so the guard can only drop intra-
    cluster pairs — never invent a false positive."""
    rows = list(enumerate([BASE, BASE.replace("lazy", "sleepy"),
                           "unrelated text about shuffle partitions and joins"], start=200))
    template = " ".join(f"tmpl{i}" for i in range(30))
    rows += [(i, f"{template} extra{i}") for i in range(1, 81)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    guarded = {
        (r.a_id, r.b_id)
        for r in D.minhash_neardup(df, threshold=0.3, dense_bucket_cap=8).collect()
    }
    release_cache()
    unguarded = {
        (r.a_id, r.b_id)
        for r in D.minhash_neardup(df, threshold=0.3, dense_bucket_cap=None).collect()
    }
    release_cache()
    assert guarded <= unguarded

    def partition(pairs):
        comp = _components(pairs)
        groups = {}
        for node, root in comp.items():
            groups.setdefault(root, set()).add(node)
        return {frozenset(g) for g in groups.values()}

    # and the guard preserved the component STRUCTURE, not just node
    # coverage: same partition of docs into clusters up to relabeling
    assert partition(guarded) == partition(unguarded)


def test_dense_bucket_alien_rep_chain_rescue(spark):
    """The failure mode the chain edges exist for: a dense bucket whose
    min-sid representative is a banding FALSE POSITIVE (collides in the
    bucket but is not a near-dup of the members). Star edges to the
    alien rep all fail exact verification; without the chain the whole
    genuine cluster would silently fall out of the output. Signatures
    are fabricated directly so the collision is forced."""
    template = " ".join(f"word{i}" for i in range(30))
    rows = [(1, "utterly unrelated text about executors and shuffle spill files")]
    rows += [(i, f"{template} unique{i}") for i in range(2, 71)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    schema = ", ".join(["sid: long"] + [f"mh_{j}: long" for j in range(32)])
    sigs = spark.createDataFrame([(i, *([7] * 32)) for i in range(1, 71)], schema)
    cand = D.minhash_lsh_candidates(sigs, dense_bucket_cap=8)
    got = {
        (r.a_id, r.b_id)
        for r in D.jaccard_verify_pairs(df, cand, threshold=0.5).collect()
    }
    release_cache()
    assert got, "chain edges must survive verification"
    assert not any(1 in pair for pair in got)  # alien rep fully rejected
    comp = _components(got)
    assert {comp[i] for i in range(2, 71)} == {comp[2]}  # one cluster


def test_minhash_probe_is_batch_x_corpus_only(spark):
    """Incremental probe: candidates/pairs are batch-x-corpus only —
    never batch-batch or corpus-corpus — and every emitted pair is a
    true >= threshold pair found by the brute cross check."""
    rows = [
        (1, BASE),
        (2, BASE.replace("lazy", "sleepy")),
        (3, "completely different text about spark dataframes and shuffles"),
        # batch (ids >= 100): 101 duplicates corpus doc 1; 102 is novel;
        # 103 duplicates batch-mate 102 (must NOT pair: intra-batch)
        (101, BASE),
        (102, "a new document with words nobody else uses anywhere at all"),
        (103, "a new document with words nobody else uses anywhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in D.minhash_probe_neardup(df, F.col("doc_id") >= 100, threshold=0.5).collect()
    }
    release_cache()
    assert all(b >= 100 and c < 100 for b, c in got)  # bipartite only
    assert (101, 1) in got and got[(101, 1)] == 1.0  # exact dup found
    assert not any(b in (102, 103) for b, _ in got)  # intra-batch ignored
    brute = {
        (max(r.a_id, r.b_id), min(r.a_id, r.b_id)): r.jaccard
        for r in D.jaccard_pairs(df, threshold=0.5).collect()
    }
    release_cache()
    for pair, j in got.items():
        assert pair in brute and abs(brute[pair] - j) < 1e-9


def test_minhash_probe_dense_corpus_bucket_collapses_to_keepers(spark):
    """A template mega-cluster in the CORPUS must not multiply every
    probing batch doc by cluster size: above the cap the probe joins
    against the bucket's PROBE_DENSE_KEEP lowest-sid members only."""
    template = " ".join(f"boiler{i}" for i in range(40))
    rows = [(i, f"{template} unique{i}a unique{i}b") for i in range(1, 101)]
    rows.append((500, f"{template} fresh500a fresh500b"))  # the batch doc
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    capped = D.minhash_probe_neardup(
        df, F.col("doc_id") >= 500, threshold=0.5, dense_bucket_cap=64
    ).collect()
    release_cache()
    uncapped = D.minhash_probe_neardup(
        df, F.col("doc_id") >= 500, threshold=0.5, dense_bucket_cap=None
    ).collect()
    release_cache()
    # capped: the batch doc matches (at least) the cluster's lowest id,
    # with FAR fewer pairs than the full cluster fan-out
    assert {r.corpus_id for r in capped} >= {1}
    assert len(capped) <= 8 * D.PROBE_DENSE_KEEP  # <= keepers per band
    assert len(uncapped) >= 90  # every cluster member collides otherwise
    # the dedup DECISION (batch doc is a near-dup) is identical
    assert bool(capped) == bool(uncapped)


def test_minhash_probe_dense_bucket_alien_rep_survives(spark):
    """The probe-side twin of the chain-rescue test (r7 verdict item 1):
    a dense corpus bucket whose min-sid member is a banding FALSE
    POSITIVE (collides in the bucket, not a near-dup of the cluster).
    With a 1-member collapse the batch doc would verify only against
    the alien rep, fail exact Jaccard, and be silently missed; keeping
    PROBE_DENSE_KEEP=2 members makes the second-lowest sid — a genuine
    cluster member — a probe target too. The corpus index is fabricated
    directly so the collision is forced."""
    template = " ".join(f"word{i}" for i in range(30))
    rows = [(1, "utterly unrelated text about executors and shuffle spill files")]
    rows += [(i, f"{template} unique{i}") for i in range(2, 71)]
    rows.append((500, f"{template} fresh500"))  # the probing batch doc
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    # every corpus doc (1..70) and the batch doc share one bucket per band
    corpus_melted = spark.createDataFrame(
        [(i, b, 7) for i in range(1, 71) for b in range(8)],
        "sid: long, band: int, bucket: long",
    )
    batch_melted = spark.createDataFrame(
        [(500, b, 7) for b in range(8)], "sid: long, band: int, bucket: long"
    )
    collapsed = D.collapse_dense_buckets(corpus_melted, dense_bucket_cap=8)
    kept = {r.sid for r in collapsed.select("sid").distinct().collect()}
    assert kept == {1, 2}  # alien rep + one genuine member
    cand = D.minhash_probe_candidates(batch_melted, collapsed)
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.jaccard_verify_pairs(df, cand, threshold=0.5).collect()
    }
    release_cache()
    assert (500, 2) in got  # flagged via the genuine member
    assert not any(b == 1 for _, b in got)  # alien rep fully rejected
    # counterfactual: the old 1-member collapse silently misses the doc
    old = D.collapse_dense_buckets(corpus_melted, dense_bucket_cap=8, keep=1)
    missed = D.jaccard_verify_pairs(
        df, D.minhash_probe_candidates(batch_melted, old), threshold=0.5
    ).count()
    release_cache()
    assert missed == 0


def test_probe_over_stored_index_matches_fresh(spark, tmp_path):
    """The stored-index contract: build_lsh_index -> write_lsh_index ->
    load_lsh_index -> probe produces EXACTLY the pairs of the
    compute-fresh probe, for both hash families — so a pipeline can
    persist the index once per corpus version and trust every later
    ingest's probe."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    batch_filter = F.col("doc_id") % 10 == 0
    for checkable in (False, True):
        fresh = {
            (r.batch_id, r.corpus_id, r.jaccard)
            for r in D.minhash_probe_neardup(
                docs, batch_filter, threshold=0.2, checkable=checkable
            ).collect()
        }
        release_cache()
        path = str(tmp_path / f"lsh_index_{checkable}")
        D.write_lsh_index(
            D.build_lsh_index(docs.filter(~batch_filter), checkable=checkable), path
        )
        stored = {
            (r.batch_id, r.corpus_id, r.jaccard)
            for r in D.minhash_probe_neardup(
                docs,
                batch_filter,
                threshold=0.2,
                checkable=checkable,
                corpus_index=D.load_lsh_index(spark, path),
            ).collect()
        }
        release_cache()
        assert stored == fresh
        assert fresh, "fixture produced no probe pairs; parity is vacuous"


def test_simhash_deterministic_and_near(spark):
    df = _corpus(spark)
    sh1 = {r.doc_id: r.sh for r in df.select("doc_id", D.simhash64(F.col("text")).alias("sh")).collect()}
    sh2 = {r.doc_id: r.sh for r in df.select("doc_id", D.simhash64(F.col("text")).alias("sh")).collect()}
    assert sh1 == sh2  # deterministic
    assert sh1[1] == sh1[2]  # identical text -> identical fingerprint
    ham = df.select(
        D.hamming64(F.lit(sh1[1]).cast("long"), F.lit(sh1[3]).cast("long")).alias("h")
    ).first().h
    assert ham <= 12  # near-dup stays within the bucket threshold
    ham_far = df.select(
        D.hamming64(F.lit(sh1[1]).cast("long"), F.lit(sh1[4]).cast("long")).alias("h")
    ).first().h
    assert ham_far > ham  # unrelated text is farther


from hypothesis import given, settings, strategies as st

_MELT_ROW = st.tuples(
    st.integers(min_value=1, max_value=40),  # sid
    st.integers(min_value=0, max_value=2),  # band
    st.integers(min_value=0, max_value=3),  # bucket
)


@settings(max_examples=15, deadline=None)
@given(rows=st.lists(_MELT_ROW, min_size=1, max_size=60, unique=True), cap=st.integers(2, 8))
def test_collapse_dense_buckets_properties(spark, rows, cap):
    """Invariants of the keep-lowest-k collapse on arbitrary melted
    indexes: (a) output is a subset of the input, (b) every bucket
    keeps min(members, cap-or-keep) rows — at most cap when under the
    cap, exactly PROBE_DENSE_KEEP when over, (c) the keep lowest sids
    of every bucket always survive, (d) idempotent."""
    melted = spark.createDataFrame(rows, "sid: long, band: int, bucket: long")
    out = D.collapse_dense_buckets(melted, dense_bucket_cap=cap)
    got = {(r.sid, r.band, r.bucket) for r in out.collect()}
    src = set(rows)
    assert got <= src  # (a)
    by_bucket = {}
    for sid, band, bucket in src:
        by_bucket.setdefault((band, bucket), []).append(sid)
    for key, sids in by_bucket.items():
        kept = sorted(s for s, b, k in got if (b, k) == key)
        sids.sort()
        if len(sids) <= cap:
            assert kept == sids  # under the cap: untouched
        else:
            assert kept == sids[: D.PROBE_DENSE_KEEP]  # (b), (c)
    again = {
        (r.sid, r.band, r.bucket)
        for r in D.collapse_dense_buckets(out, dense_bucket_cap=cap).collect()
    }
    assert again == got  # (d)


# --- float-edge regressions for the prefix-filtered exact join ---
# Both fixtures sit exactly AT the Jaccard threshold where IEEE
# rounding of (1-t)*n / max*t used to shrink a bound by one and
# silently drop a true pair; the contract is identical output to the
# brute-force join, so each case is checked against jaccard_pairs.


def test_prefix_length_float_edge_keeps_boundary_pair(spark):
    """t=0.9, |B|=10, |A|=9, A ⊂ B: Jaccard = 0.9 exactly. B's one
    unique word is its rarest, so it fills the whole prefix when
    floor((1.0-0.9)*10) rounds to 0 instead of 1 — the old formula
    generated no candidate and the pair vanished despite the exact
    verify step being downstream."""
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words[:9])), (2, " ".join(words))],
        "doc_id: long, text: string",
    )
    brute = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.jaccard_pairs(df, k=1, threshold=0.9).collect()
    }
    fast = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.jaccard_pairs_prefix(df, k=1, threshold=0.9).collect()
    }
    assert brute == {(1, 2, 0.9)}
    assert fast == brute


def test_length_filter_float_edge_keeps_boundary_pair(spark):
    """t=0.07, |A|=7 ⊂ |B|=100: Jaccard = 0.07 exactly, but
    100*0.07 = 7.000000000000001 > 7 used to fail the length filter
    max*t <= min and kill the candidate before verify."""
    words = [f"tok{i:03d}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(words[:7])), (2, " ".join(words))],
        "doc_id: long, text: string",
    )
    brute = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.jaccard_pairs(df, k=1, threshold=0.07).collect()
    }
    fast = {
        (r.a_id, r.b_id, r.jaccard)
        for r in D.jaccard_pairs_prefix(df, k=1, threshold=0.07).collect()
    }
    assert brute == {(1, 2, 0.07)}
    assert fast == brute


def test_word_shingles_short_docs_empty_not_crash(spark):
    """Documents with fewer than k words, empty documents and NULL text
    all shingle to [] instead of crashing; a k-word-or-longer document
    yields its distinct k-word windows."""
    rows = [
        (1, "only two"),
        (2, ""),
        (3, None),
        (4, "one two three four"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", D.word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert got == {
        1: [],
        2: [],
        3: [],
        4: ["one two three", "two three four"],
    }


def test_jaccard_pairs_stop_shingle_cap_single_window(spark):
    """The r15 single-window stop-shingle cap must keep the old
    groupBy+join-back semantics: a shingle in more than
    max_shingle_freq docs leaves EVERY doc's set before Jaccard (the
    denominator shrinks too)."""
    docs = spark.createDataFrame(
        [(1, "common alpha"), (2, "common alpha"), (3, "common beta")],
        "doc_id: long, text: string",
    )
    # k=1: shingles are words. 'common' occurs in 3 docs > cap 2 -> it
    # is dropped from all three sets; docs 1/2 reduce to {alpha}
    # (jaccard 1.0), doc 3 to {beta} (no partner).
    out = {
        (r.a_id, r.b_id): r.jaccard
        for r in D.jaccard_pairs(
            docs, k=1, threshold=0.5, max_shingle_freq=2
        ).collect()
    }
    assert out == {(1, 2): 1.0}
    # cap high enough to keep 'common': all three docs pair up
    out_uncapped = {
        (r.a_id, r.b_id)
        for r in D.jaccard_pairs(
            docs, k=1, threshold=0.3, max_shingle_freq=3
        ).collect()
    }
    assert out_uncapped == {(1, 2), (1, 3), (2, 3)}
