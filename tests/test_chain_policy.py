"""Unified chain semantics for intra-set dedup (VERDICT r11 #2): the
dedup wing, the flagship stream, and both one-pass batch twins share
one ``chain_policy`` knob. Under the default "sequential" a planted
A~B~C chain (A~B and B~C verify, A~C does not) resolves IDENTICALLY —
B flagged against A, C kept — whether the chain arrives one doc per
micro-batch, all in one micro-batch, or through the one-pass twin.
"conservative" flags every verified pair (B and C dropped).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from notion_vector_store_etl_pipeline_spark.operators import dedup as D
from notion_vector_store_etl_pipeline_spark.operators.cache import release_cache
from notion_vector_store_etl_pipeline_spark.streaming.dedup_stream import (
    probe_batch,
    streaming_dedup_ingest,
)

# chain construction: B shares its first half with A and its second
# half with C; A and C are word-disjoint. Pairwise Jaccard ~0.32 for
# the chain edges, 0.0 for A~C — with 1-row bands (num_hashes=bands=32)
# LSH candidate recall for a 0.32 pair is 1-(1-J)^32 ~ 1-4e-6, and the
# exact verify filters everything below threshold anyway.
_P = [f"p{i}" for i in range(30)]
_Q = [f"q{i}" for i in range(30)]
TEXT_A = " ".join(_P + [f"u{i}" for i in range(30)])
TEXT_B = " ".join(_P + _Q)
TEXT_C = " ".join(_Q + [f"v{i}" for i in range(30)])
TEXT_Z = " ".join(f"z{i}" for i in range(60))  # unrelated corpus doc

_KW = dict(threshold=0.25, num_hashes=32, bands=32)


def _chain_docs(spark):
    return spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C)], "doc_id: long, text: string"
    )


# ---------------------------------------------------------------- peel


def test_peel_chain_keeps_tail(spark):
    pairs = spark.createDataFrame([(1, 2, 0.5), (2, 3, 0.5)], "a_id: long, b_id: long, jaccard: double")
    got = sorted((r.a_id, r.b_id) for r in D.sequential_firstwins_pairs(pairs).collect())
    assert got == [(1, 2)]  # 2 flagged by 1; 3 survives (its only partner died)


def test_peel_diamond(spark):
    # 1~2, 1~3, 2~4, 3~4: greedy keeps 1 and 4 (both of 4's lower
    # partners were flagged by 1)
    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (1, 3, 0.5), (2, 4, 0.5), (3, 4, 0.5)],
        "a_id: long, b_id: long, jaccard: double",
    )
    got = sorted((r.a_id, r.b_id) for r in D.sequential_firstwins_pairs(pairs).collect())
    assert got == [(1, 2), (1, 3)]


def test_peel_multiple_winners(spark):
    # 1~3 and 2~3, no 1~2: both 1 and 2 survive; 3 flags with BOTH
    # surviving partners attributed (same as conservative here)
    pairs = spark.createDataFrame(
        [(1, 3, 0.5), (2, 3, 0.5)], "a_id: long, b_id: long, jaccard: double"
    )
    got = sorted((r.a_id, r.b_id) for r in D.sequential_firstwins_pairs(pairs).collect())
    assert got == [(1, 3), (2, 3)]


def test_peel_matches_greedy_reference_on_random_dags(spark):
    """Property pin for the peel (hypothesis over random pair DAGs):
    the distributed first-wins peel must equal the trivially-correct
    sequential reference — process ids ascending, keep a doc iff it
    has no verified pair with an already-KEPT lower id; output = the
    input pairs whose a_id was kept. Random DAGs cover diamonds,
    multi-winner fan-ins, disjoint chains, and re-converging paths the
    hand-written examples can't enumerate."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    raw_pairs = st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=16
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(raw=raw_pairs)
    def run(raw):
        pairs = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
        if not pairs:
            return
        # pure-python sequential reference
        kept: set[int] = set()
        for d in sorted({x for p in pairs for x in p}):
            if any(a in kept for (a, b) in pairs if b == d):
                continue  # flagged
            kept.add(d)
        expected = {(a, b) for (a, b) in pairs if a in kept}
        df = spark.createDataFrame(
            [(a, b, 0.5) for a, b in pairs], "a_id: long, b_id: long, jaccard: double"
        )
        got = {(r.a_id, r.b_id) for r in D.sequential_firstwins_pairs(df).collect()}
        assert got == expected, (sorted(pairs), sorted(got), sorted(expected))

    run()


def test_peel_rejects_malformed_pairs(spark):
    """ADVICE r12: a self-pair or a reversed/cyclic pair leaves the
    peel's frontier unchanged every round — must raise up front, not
    hang the driver."""
    for rows in (
        [(2, 2, 0.5)],  # self-pair
        [(1, 2, 0.5), (2, 1, 0.5)],  # reversed pair -> 2-cycle
        [(3, 1, 0.5)],  # orientation violated
        [(None, 2, 0.5)],  # null id vanishes from comparisons
    ):
        pairs = spark.createDataFrame(
            rows, "a_id: long, b_id: long, jaccard: double"
        )
        with pytest.raises(ValueError, match="a_id < b_id"):
            D.sequential_firstwins_pairs(pairs)


def test_peel_long_chain(spark):
    # 1~2~3~4~5: alternating survive/flag — 1,3,5 kept
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.5) for i in range(1, 5)], "a_id: long, b_id: long, jaccard: double"
    )
    got = sorted((r.a_id, r.b_id) for r in D.sequential_firstwins_pairs(pairs).collect())
    assert got == [(1, 2), (3, 4)]


def test_peel_empty(spark):
    pairs = spark.createDataFrame([], "a_id: long, b_id: long, jaccard: double")
    assert D.sequential_firstwins_pairs(pairs).count() == 0


# ------------------------------------------------- one-pass twin paths


def _one_pass(spark, chain_policy):
    corpus = spark.createDataFrame([(100, TEXT_Z)], "doc_id: long, text: string")
    index = D.build_lsh_index(corpus, **{k: v for k, v in _KW.items() if k != "threshold"})
    flagged, clean = probe_batch(
        _chain_docs(spark),
        corpus,
        index,
        intra_batch=True,
        chain_policy=chain_policy,
        **_KW,
    )[:2]
    out = (
        {(r.batch_id, r.corpus_id) for r in flagged.collect()},
        {r.doc_id for r in clean.collect()},
    )
    release_cache()
    return out


def test_one_pass_sequential_keeps_chain_tail(spark):
    flagged, clean = _one_pass(spark, "sequential")
    assert flagged == {(2, 1)}
    assert clean == {1, 3}


def test_one_pass_conservative_flags_every_pair(spark):
    flagged, clean = _one_pass(spark, "conservative")
    assert flagged == {(2, 1), (3, 2)}
    assert clean == {1}


def test_bad_chain_policy_rejected(spark):
    with pytest.raises(ValueError, match="chain_policy"):
        _one_pass(spark, "nope")


# --------------------------------------- cross-path equivalence (wing)


def _run_stream(spark, tmp_path, tag, page_size, chain_policy):
    corpus = spark.createDataFrame([(100, TEXT_Z)], "doc_id: long, text: string")
    corpus_path = str(tmp_path / f"corpus_{tag}")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / f"lsh_{tag}")
    D.write_lsh_index(
        D.build_lsh_index(corpus, **{k: v for k, v in _KW.items() if k != "threshold"}),
        index_path,
    )
    src = str(tmp_path / f"incoming_{tag}.parquet")
    _chain_docs(spark).orderBy("doc_id").toPandas().to_parquet(src, index=False)
    out, ckpt = str(tmp_path / f"out_{tag}"), str(tmp_path / f"ckpt_{tag}")
    q = streaming_dedup_ingest(
        spark,
        src,
        corpus_path,
        index_path,
        out,
        ckpt,
        page_size=page_size,
        pages_per_batch=1,
        update_index=True,
        intra_batch=True,
        chain_policy=chain_policy,
        **_KW,
    )
    q.processAllAvailable()
    q.stop()
    flagged = {
        (r.batch_id, r.corpus_id)
        for r in spark.read.parquet(f"{out}/flagged").select("batch_id", "corpus_id").collect()
    }
    clean = {r.doc_id for r in spark.read.parquet(f"{out}/clean").collect()}
    return flagged, clean


def test_chain_split_across_batches_equals_one_pass_twin(spark, tmp_path):
    """THE cross-path pin: the A~B~C chain arriving one doc per
    micro-batch (the stream's inherently sequential composition) must
    produce the same flagged/clean sets as the one-pass twin under the
    shared default chain_policy="sequential"."""
    s_flagged, s_clean = _run_stream(spark, tmp_path, "split", 1, "sequential")
    b_flagged, b_clean = _one_pass(spark, "sequential")
    assert s_flagged == b_flagged == {(2, 1)}
    assert s_clean == b_clean == {1, 3}


def test_chain_disposition_invariant_to_pagination(spark, tmp_path):
    """Same chain, whole thing in ONE micro-batch: sequential output is
    identical to the split-across-batches run — the disposition no
    longer depends on where page boundaries fall (the r11 residual)."""
    one_flagged, one_clean = _run_stream(spark, tmp_path, "one", 10, "sequential")
    assert one_flagged == {(2, 1)}
    assert one_clean == {1, 3}


def test_peel_late_survivor_pair_attribution(spark):
    """The review-caught shape: pairs {(1,2),(2,3),(3,4),(1,4)}. Greedy
    keeps {1,3}; 4 flags with BOTH surviving partners — (3,4) must be
    emitted even though its b side was flagged (via (1,4)) a round
    before 3 was proven a survivor. A frontier-based attribution
    dropped it, diverging from the SQL oracle and a one-doc-per-batch
    stream."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.5), (3, 4, 0.5), (1, 4, 0.5)],
        "a_id: long, b_id: long, jaccard: double",
    )
    got = sorted((r.a_id, r.b_id) for r in D.sequential_firstwins_pairs(pairs).collect())
    assert got == [(1, 2), (1, 4), (3, 4)]


# ----------------------------- probe_batch vs the operator composition


def _words(prefix, n):
    return [f"{prefix}{i}" for i in range(n)]


def _parity_frames(spark):
    """Corpus + batch holding every probe_batch branch: a same-id
    update (600, which also sits in 1020's corpus candidates, so the
    b-side must verify against the batch's NEW text), a cross-id
    near-dup (1001 ~ corpus 10), an intra-batch pair (1002 ~ 1003), an
    A~B~C chain (1011 ~ 1012 ~ 1013) and a template cluster of 80
    near-identical batch docs that fills one bucket past
    DENSE_BUCKET_CAP."""
    corpus = [(i, " ".join(_words(f"c{i}_", 40))) for i in range(1, 30)]
    corpus.append((600, " ".join(_words("old600_", 40))))
    batch = [
        (600, " ".join(_words("new600_", 40))),
        (1001, " ".join(_words("c10_", 40)[:36] + _words("x1001_", 4))),
        (1002, " ".join(_words("pair_", 40))),
        (1003, " ".join(_words("pair_", 37) + _words("y1003_", 3))),
        (1011, TEXT_A),
        (1012, TEXT_B),
        (1013, TEXT_C),
        (1020, " ".join(_words("old600_", 38) + _words("z1020_", 2))),
        (1030, " ".join(_words("lone_", 40))),
    ]
    template = _words("tmpl_", 30)
    batch += [(2000 + i, " ".join(template + [f"uniq{i}"])) for i in range(80)]
    schema = "doc_id: long, text: string"
    return spark.createDataFrame(corpus, schema), spark.createDataFrame(batch, schema)


def _composed_probe(batch, corpus, index, checkable, chain_policy):
    """The stream probe as the still-public operators compose it: batch
    signatures -> corpus candidates -> verify over the batch-wins
    universe -> minhash_neardup over the corpus survivors -> peel."""
    num_hashes, bands, threshold = _KW["num_hashes"], _KW["bands"], _KW["threshold"]
    mb = D.melted_signature_buckets(
        D.minhash_signatures(batch, num_hashes=num_hashes, checkable=checkable),
        bands,
        num_hashes // bands,
        checkable,
    )
    cand = D.minhash_probe_candidates(mb, index).filter(F.col("a_id") != F.col("b_id"))
    universe = batch.unionByName(corpus.join(batch.select("doc_id"), "doc_id", "left_anti"))
    flagged = D.jaccard_verify_pairs(universe, cand, threshold=threshold).select(
        F.col("a_id").alias("batch_id"), F.col("b_id").alias("corpus_id"), "jaccard"
    ).localCheckpoint(eager=True)
    survivors = batch.join(
        flagged.select(F.col("batch_id").alias("doc_id")), "doc_id", "left_anti"
    )
    intra = D.minhash_neardup(
        survivors,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        checkable=checkable,
    )
    if chain_policy == "sequential":
        intra = D.sequential_firstwins_pairs(intra)
    flagged = flagged.unionByName(
        intra.select(
            F.col("b_id").alias("batch_id"), F.col("a_id").alias("corpus_id"), "jaccard"
        )
    )
    ids = flagged.select(F.col("batch_id").alias("doc_id")).distinct()
    clean = batch.join(ids, "doc_id", "left_anti")
    clean_mb = mb.join(ids.withColumnRenamed("doc_id", "sid"), "sid", "left_anti")
    return flagged, clean, clean_mb


def _rows(frames):
    return tuple(sorted(tuple(r) for r in df.collect()) for df in frames)


@pytest.mark.parametrize("checkable", [False, True])
def test_probe_batch_matches_operator_composition(spark, checkable):
    """probe_batch shingles the batch once and reuses the arrays for
    signatures, both verifies and the intra stage; its three outputs
    must equal the operator-by-operator composition, under both chain
    policies, on a batch that reaches every branch."""
    corpus, batch = _parity_frames(spark)
    index = D.build_lsh_index(
        corpus, num_hashes=_KW["num_hashes"], bands=_KW["bands"], checkable=checkable
    )
    mb = D.melted_signature_buckets(
        D.minhash_signatures(batch, num_hashes=32, checkable=checkable), 32, 1, checkable
    )
    biggest = mb.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    assert biggest > D.DENSE_BUCKET_CAP  # the dense-bucket branch is reached
    for policy in D.CHAIN_POLICIES:
        got = _rows(
            probe_batch(
                batch,
                corpus,
                index,
                intra_batch=True,
                return_clean_buckets=True,
                chain_policy=policy,
                checkable=checkable,
                **_KW,
            )
        )
        want = _rows(_composed_probe(batch, corpus, index, checkable, policy))
        release_cache()
        assert got == want, policy
        flagged = {(r[0], r[1]) for r in got[0]}
        assert (1001, 10) in flagged  # cross-id near-dup
        assert (1003, 1002) in flagged  # intra-batch pair
        assert not any(b in (600, 1020) for b, _ in flagged)  # update, batch wins
        assert ((1013, 1012) in flagged) == (policy == "conservative")
