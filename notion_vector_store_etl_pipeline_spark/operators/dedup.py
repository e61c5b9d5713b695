"""Deduplication operators for training-data pipelines: exact hash,
word-shingle Jaccard, MinHash+LSH, SimHash. All shuffle-conscious:

- exact: one shuffle on the content hash;
- n-gram Jaccard: explode distinct shingles -> self-join on shingle ->
  group per pair. The shingle join is the scale risk (hot shingles);
  ``max_shingle_freq`` drops stop-shingles, the standard mitigation;
- MinHash LSH: signatures per doc (narrow), band buckets -> members
  grouped per (band, bucket-hash) and paired within the bucket —
  candidate pairs only, never the full cross product; exact-Jaccard
  verify on candidates;
- SimHash: 64-bit fingerprint, near-dup = small Hamming distance among
  bucket collisions on 16-bit chunks.

MinHash/SimHash use ``xxhash64`` (JVM-side, codegen) — engine-specific
hashing, so these are rows-only for the SQL oracle and are instead
verified in pytest against exact Jaccard ground truth.

Several operators persist intermediates that feed multiple plan
consumers. Because plans are lazy, the operator cannot unpersist them
itself — call :func:`release_cache` (or ``spark.catalog.clearCache()``)
once the final DataFrame has been materialized.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# 2^31-1: keeps a*h+b < 2^62, safe for 64-bit ANSI arithmetic
MERSENNE_PRIME = (1 << 31) - 1

# band-bucket polynomial combiner (prime > 2^20): acc*C + mh stays
# < 2^31 * 2^21 < 2^52, exact in BIGINT arithmetic in both engines
BUCKET_COMBINE = 1_048_583

# shared tracked-persist registry (operators.cache); release_cache is
# re-exported here because scale smokes and tests import it from this
# module historically
from notion_vector_store_etl_pipeline_spark.operators.cache import (  # noqa: E402
    persist_tracked as _persist,
    release_cache,
)

__all__ = ["release_cache"]


def normalized_text(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


_SHINGLE_UDFS: dict[int, object] = {}


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as ARRAY<STRING> (first-occurrence order),
    computed in an Arrow-batched pandas UDF — measured ~18x faster than
    the interpreted HOF formulation on the same data. Whitespace
    tokenization matches split(trim(x), '\\s+') for ASCII text."""
    if k not in _SHINGLE_UDFS:

        @F.pandas_udf(ArrayType(StringType()))
        def _sh(texts: pd.Series) -> pd.Series:
            def f(t):
                if t is None:
                    return []
                toks = t.split()
                return list(
                    dict.fromkeys(
                        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                    )
                )

            return texts.map(f)

        _SHINGLE_UDFS[k] = _sh
    return _SHINGLE_UDFS[k](text)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First-wins exact dedup on normalized-content hash."""
    hashed = df.withColumn("content_hash", F.sha2(normalized_text(F.col(text_col)), 256))
    from pyspark.sql.window import Window

    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(Window.partitionBy("content_hash")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity self-join: (a_id, b_id, jaccard)."""
    sh = df.select(
        F.col(id_col).alias("sid"), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    if max_shingle_freq is not None:
        # Stop-shingle cap as ONE window pass over the explosion (the
        # collapse_dense_buckets pattern), not a groupBy + join-back:
        # the aggregate and the join probe were two independent AQE
        # exchanges over the UNPERSISTED explosion, so the shingle
        # pandas UDF ran over the whole corpus twice (profiled r15: two
        # ~equal ArrowEvalPython-bearing heavy jobs; guide §4 — the
        # Python boundary is the cost to eliminate). The window shares
        # the one hash(shingle) exchange, the UDF runs once, and the
        # cached output below stays partitioned on shingle, which is
        # exactly the layout the a/b self-join sides need.
        from pyspark.sql.window import Window

        sh = (
            sh.withColumn(
                "_f", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_f") <= max_shingle_freq)
            .select("sid", "shingle")
        )
    # sh feeds three consumers (sizes + both join sides) — compute the
    # shingle HOF explosion once, not three times. LAZY deliberately:
    # unlike jaccard_pairs_prefix (where the racing branches sat above
    # a common un-shuffled subtree), every consumer here is downstream
    # of sh's own shuffle lineage, so the first stage populates the
    # cache before the others scan it; the eager variant was A/B'd in
    # r14 and measured ~15% slower (the extra materialization pass
    # buys nothing — OPTIMIZATION_r14.md).
    sh = _persist(sh)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("a_id"), F.col("b.sid").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("sid").alias("a_id"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("sid").alias("b_id"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _minhash_cols(num_hashes: int, base: Column) -> list[Column]:
    """Deterministic permutation family h_i(x) = (a_i*x + b_i) mod p over
    a pre-hashed shingle column (classic MinHash; public construction).
    ``base`` should be a plain column reference to an already-projected
    hash value: inlining the hash expression would embed one copy of it
    in each of the ``num_hashes`` aggregate expressions and leave the
    dedup to subexpression elimination, which is a codegen-path detail
    rather than a structural guarantee; projecting once keeps the
    sha256-per-shingle cost single regardless (A/B at sf0.1: within
    noise of the inlined form, so the explicit projection is free)."""
    cols = []
    for i in range(num_hashes):
        a = 2 * i + 1  # odd multipliers, fixed seeds -> deterministic
        b = 1_000_003 * (i + 1)
        cols.append(
            F.min(F.pmod(base * F.lit(a) + F.lit(b), F.lit(MERSENNE_PRIME))).alias(f"mh_{i}")
        )
    return cols


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(sid, sh): each doc's distinct k-word shingle array — the one
    Python-UDF pass that signatures and exact verification both read."""
    return df.select(
        F.col(id_col).alias("sid"), word_shingles(F.col(text_col), k).alias("sh")
    )


def signatures_from_sets(
    sets: DataFrame, num_hashes: int = 32, checkable: bool = False
) -> DataFrame:
    """(sid, mh_0..mh_{n-1}) from a :func:`shingle_sets` frame — JVM
    only (explode + aggregate), so a caller holding the shingle arrays
    pays no second trip through the shingle UDF. Docs with no shingle
    (fewer than k words) get no signature row."""
    raw = sha60(F.col("shingle")) if checkable else F.xxhash64(F.col("shingle"))
    sh = sets.select("sid", F.explode("sh").alias("shingle")).select(
        "sid", F.pmod(raw, F.lit(MERSENNE_PRIME)).alias("_mh_base")
    )
    return sh.groupBy("sid").agg(*_minhash_cols(num_hashes, F.col("_mh_base")))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 3,
    checkable: bool = False,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) MinHash signature table. Base hash is
    xxhash64 (JVM codegen, hot path) or, with ``checkable=True``, the
    cross-engine :func:`sha60` so a DuckDB oracle replays the exact
    signatures — projected ONCE per shingle row before the aggregate
    (see :func:`_minhash_cols`)."""
    return signatures_from_sets(
        shingle_sets(df, text_col, id_col, k), num_hashes, checkable
    )


def band_bucket(cols: list[Column]) -> Column:
    """Replayable band-bucket key: fold the band's minhash values with
    ``acc = (acc * BUCKET_COMBINE + mh) % MERSENNE_PRIME`` — plain BIGINT
    arithmetic a SQL oracle reproduces exactly (unlike xxhash64). Bucket
    collisions only ever ADD candidate pairs, which exact verification
    then kills, so correctness is unaffected either way; replayability is
    what makes the candidate set oracle-checkable."""
    acc = cols[0]
    for c in cols[1:]:
        acc = F.pmod(acc * F.lit(BUCKET_COMBINE) + c, F.lit(MERSENNE_PRIME))
    return acc


#: Band buckets holding more than this many docs switch from all-pairs
#: enumeration to star edges (see minhash_lsh_candidates). A bucket of
#: m colliding docs is almost always a true duplicate/template cluster;
#: m^2/2 candidate pairs from one hot bucket is the classic near-dup
#: skew blowup at 100 TB (one boilerplate template shared by 1M docs ->
#: 5*10^11 pairs), while m-1 star edges preserve the downstream
#: transitive clustering at linear cost.
DENSE_BUCKET_CAP = 64


def melted_signature_buckets(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4, checkable: bool = False
) -> DataFrame:
    """(sid, band, bucket): each signature row melted to one row per
    band via posexplode of the per-band bucket hashes — the shared
    front half of the self-join and probe candidate generators."""
    def band_cols(band: int) -> list[Column]:
        return [F.col(f"mh_{band * rows_per_band + r}") for r in range(rows_per_band)]

    if checkable:
        bucket_cols = [band_bucket(band_cols(band)) for band in range(bands)]
    else:
        bucket_cols = [F.xxhash64(*band_cols(band)) for band in range(bands)]
    return signatures.select(
        "sid", F.posexplode(F.array(*bucket_cols)).alias("band", "bucket")
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    checkable: bool = False,
    dense_bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signature and bucket-join in ONE pass: melt each row to
    (sid, band, bucket) via posexplode of the per-band bucket hashes
    (:func:`melted_signature_buckets`), then pair up each (band,
    bucket)'s members (:func:`lsh_bucket_pairs`). One scan of the
    signatures, one shuffle — instead of `bands` recomputations."""
    return lsh_bucket_pairs(
        melted_signature_buckets(signatures, bands, rows_per_band, checkable),
        dense_bucket_cap,
    )


def lsh_bucket_pairs(melted: DataFrame, dense_bucket_cap: int | None = None) -> DataFrame:
    """Candidate pairs (a_id < b_id) from melted (sid, band, bucket)
    rows: every two sids sharing a (band, bucket).

    ``dense_bucket_cap``: buckets with more than this many members emit
    STAR edges (min-sid representative -> each member) PLUS CHAIN edges
    (consecutive members in sid order) instead of all pairs — the skew
    guard for template/boilerplate mega-clusters, 2(m-1) edges instead
    of m(m-1)/2. Exact verification still applies per emitted edge.
    Connectivity guarantee: when the bucket is a genuine near-dup
    cluster, EVERY chain edge passes verification, so the cluster stays
    one component even if the min-sid representative happens to be a
    banding false-positive whose star edges all fail (without the
    chain, such an alien rep would silently disconnect the cluster —
    see tests/test_dedup.py::test_dense_bucket_alien_rep_chain_rescue).
    What is traded away is the exhaustive pairwise list INSIDE a dense
    cluster (and pairs between non-adjacent members of a bucket that is
    NOT a coherent cluster), which at scale is exactly the quadratic
    term that must not be materialized.

    One (band, bucket) aggregation collects each bucket's sorted member
    array and the edges are generated per bucket row, so the members
    are read once and nothing needs persisting. A hot bucket costs one
    array of m sids plus its 2(m-1) edges; the all-pairs generator
    only sees buckets within the cap (or every bucket when the caller
    disables the cap)."""
    buckets = melted.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("sid")).alias("m")
    )
    n = F.size("m")
    sparse = buckets if dense_bucket_cap is None else buckets.filter(n <= dense_bucket_cap)
    # all pairs: each member (0-based position p) with every later one
    pairs = sparse.select("m", F.posexplode("m").alias("p", "a_id")).select(
        "a_id", F.explode(F.slice("m", F.col("p") + 2, n)).alias("b_id")
    )
    if dense_bucket_cap is not None:
        # star edges (min-sid representative -> each later member) and
        # chain edges (consecutive members); ascending order makes
        # a_id < b_id by construction
        later = F.slice("m", 2, n - 1)
        edges = F.concat(
            F.transform(
                later, lambda b: F.struct(F.element_at("m", 1).alias("a_id"), b.alias("b_id"))
            ),
            F.zip_with(
                F.slice("m", 1, n - 1),
                later,
                lambda a, b: F.struct(a.alias("a_id"), b.alias("b_id")),
            ),
        )
        dense = buckets.filter(n > dense_bucket_cap).select(
            F.explode(edges).alias("e")
        ).select("e.a_id", "e.b_id")
        pairs = pairs.unionByName(dense)
    return pairs.dropDuplicates()


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,  # (a_id, b_id)
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs: join
    each side to its (distinct) shingle array, then set math per pair —
    O(candidates · shingles), never all-pairs.

    The shingle table feeds both join sides of one action, so it is
    persisted EAGERLY: with a lazy persist the two scan stages race the
    cache populate and each re-runs the shingle UDF (r14 A/B on the
    registered minhash family: -6..-16% with eager). A caller that
    already holds the shingle arrays (streaming ``probe_batch``) skips
    this table and calls :func:`jaccard_verify_sets` directly."""
    # shingle only the docs that appear in a candidate pair — a semi-join
    # keeps the (Python) shingle UDF off the rest of the corpus; at LSH
    # candidate rates of <<1% this is the difference between re-scanning
    # 100 TB and touching a few GB (AQE broadcasts the id set when small)
    cand_ids = pairs.select(F.col("a_id").alias("cand_id")).unionByName(
        pairs.select(F.col("b_id").alias("cand_id"))
    )  # no dropDuplicates: the left-semi join dedups by construction
    base = df.join(cand_ids, df[id_col] == cand_ids.cand_id, "left_semi")
    sets_df = _persist(shingle_sets(base, text_col, id_col, k), eager=True)
    return jaccard_verify_sets(pairs, sets_df, sets_df, threshold)


def jaccard_verify_sets(
    pairs: DataFrame,  # (a_id, b_id)
    a_sets: DataFrame,
    b_sets: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """The set math of :func:`jaccard_verify_pairs` over precomputed
    :func:`shingle_sets` frames: ``a_sets`` supplies each pair's a-side
    shingle array, ``b_sets`` its b-side one (one row per sid on each).
    Returns (a_id, b_id, jaccard) for pairs at or above ``threshold``."""
    a = a_sets.select(F.col("sid").alias("a_id"), F.col("sh").alias("sh_a"))
    b = b_sets.select(F.col("sid").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("jaccard", F.round(inter / F.nullif(union.cast("double"), F.lit(0.0)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    checkable: bool = False,
    dense_bucket_cap: int | None = DENSE_BUCKET_CAP,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard — the 100 TB near-dup
    path: candidate generation AND verification are candidate-local,
    never all-pairs. ``checkable=True`` swaps xxhash64 for the
    cross-engine sha60 base hash and the replayable band-bucket
    combiner, so a SQL oracle reproduces the emitted pair set exactly.
    ``dense_bucket_cap`` (on by default): buckets larger than the cap
    contribute star edges instead of all pairs — the skew guard that
    keeps one template/boilerplate mega-cluster from quadratic candidate
    blowup (see :func:`minhash_lsh_candidates`); ``None`` disables."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, checkable=checkable)
    # persisted: verification reads candidates three times (both sides
    # of the candidate-id union and the pair join) — without this the
    # whole signature + bucket-join pipeline would recompute; eager so
    # those branches can't race the cache populate
    candidates = _persist(
        minhash_lsh_candidates(
            sigs,
            bands,
            rows_per_band,
            checkable=checkable,
            dense_bucket_cap=dense_bucket_cap,
        ),
        eager=True,
    )
    return jaccard_verify_pairs(df, candidates, text_col, id_col, threshold=threshold)


#: Chain-disposition policies for intra-set dedup over verified pairs
#: (VERDICT r11 #2). "sequential": greedy first-wins by id — a doc is
#: flagged iff it has a verified pair with a SURVIVING lower id, so on a
#: chain a~b~c (no a~c pair) c survives because its only lower partner b
#: was itself flagged. This matches what a strictly sequential stream
#: computes when the chain is split one-doc-per-batch (each batch probes
#: only prior SURVIVORS), making the disposition invariant to batch
#: boundaries. "conservative": every verified pair flags its higher id —
#: b AND c are dropped; stricter removal, and on a stream it makes chain
#: disposition depend on how pagination splits the chain.
#:
#: Both policies govern BOTH wings identically (VERDICT r12 #6): the
#: text probes (probe_batch, streaming_dedup_ingest, the one-pass
#: twins) and the embedding probes (streaming.ann_stream
#: .probe_vector_batch / streaming_vector_ingest dedup mode, and the
#: neardup_chain_sequential_cosine batch twin) share this knob. The
#: third disposition in the engine — connected-components survivor
#: selection (neardup_components / neardup_cluster_survivors /
#: minhash_neardup_components) — is deliberately NOT a chain_policy
#: value: transitive-closure collapse (a~b~c drops b AND c even with
#: no a~c pair) answers a different question ("one representative per
#: cluster", the batch re-dedup of a standing corpus) and is only
#: computable with the whole pair set present, so it has no
#: pagination-invariant streaming twin by construction.
CHAIN_POLICIES = ("sequential", "conservative")


def sequential_firstwins_pairs(pairs: DataFrame) -> DataFrame:
    """Resolve verified near-dup ``pairs`` (a_id < b_id, + carry
    columns) to the subset whose a_id SURVIVES greedy first-wins-by-id
    elimination — exactly the pairs a sequential one-doc-at-a-time
    pass would flag (``CHAIN_POLICIES`` note). Output rows' b_ids are
    the flagged docs; every other id survives.

    Two phases. (1) Peel the pair DAG for the flagged ID set (a < b
    orients it, so it is acyclic and each round decides at least the
    minimal ids): ids that are nobody's b-side survive, their pairs
    flag their b_ids, pairs touching a flagged id leave the frontier
    (a flagged doc flags nobody; a flagged b is decided), repeat.
    Rounds = longest chain length; each round is two anti-joins over
    the (small, verified-pair) set, localCheckpoint-truncated so the
    loop's plan does not nest. (2) Attribute from the ORIGINAL pair
    set: a pair belongs in the output iff its a_id survived (is not
    flagged) — attribution must not come from the peel's own frontier,
    because a pair whose b was flagged early leaves the frontier
    before its a is proven a survivor (pairs {(1,2),(2,3),(3,4),(1,4)}:
    (3,4) exits in round 1 via b=4, yet 3 survives in round 2 and the
    sequential disposition — and the SQL oracle, and a one-doc-per-
    batch stream — all emit (3,4)).

    Input contract, ENFORCED (ADVICE r12): every row must satisfy
    ``a_id < b_id`` with both non-null. The peel's termination proof
    rests on that orientation (acyclic ⇒ each round decides at least
    the minimal undecided ids); a self-pair, a reversed pair forming a
    cycle ((1,2)+(2,1)), or a null id would leave the frontier
    unchanged every round and HANG the driver. The engine's pair
    producers (minhash_neardup, cosine_selfjoin_pairs, the IVF blocked
    family) all emit a_id < b_id by construction, but this is a public
    operator — malformed input raises ``ValueError`` up front (one
    cheap job over the just-checkpointed, pair-sized frame) instead of
    looping forever.

    Join strategy, measured (r13): the per-round semi/anti joins are
    left to AQE, which observes the tiny post-distinct id sets at the
    shuffle boundary and converts them to broadcast joins at runtime —
    an explicit broadcast + per-round eager checkpoints of
    survivors/newly was tried and came out 40% SLOWER at the sf1
    clone-clique decade (13.1 s vs 9.2 s for 0.43M pairs): the extra
    materialization barriers cost more than the shuffles AQE was
    already eliding. The loop intentionally does not force join
    strategies.
    """
    # LAZY checkpoint + one aggregate: the row count (empty-input
    # short-circuit, VERDICT r13 #1), the orientation validation, and
    # the checkpoint materialization all ride ONE job — the eager
    # checkpoint + isEmpty + bad.isEmpty sequence cost three (r15,
    # guide §1.2: don't pay per-job driver floor for work one action
    # can carry).
    bad_pair = (
        F.col("a_id").isNull()
        | F.col("b_id").isNull()
        | (F.col("a_id") >= F.col("b_id"))
    )
    pairs = pairs.localCheckpoint(eager=False)
    n_pairs, n_bad = pairs.agg(
        F.count(F.lit(1)), F.count(F.when(bad_pair, F.lit(1)))
    ).collect()[0]
    if n_pairs == 0:
        # nothing to resolve — skip the peel jobs entirely (a streaming
        # probe calls this once per micro-batch, usually with zero
        # intra-batch pairs)
        return pairs
    if n_bad:
        sample = [
            (r["a_id"], r["b_id"]) for r in pairs.filter(bad_pair).limit(5).collect()
        ]
        raise ValueError(
            "sequential_firstwins_pairs requires a_id < b_id (non-null) on "
            f"every pair — the a<b orientation is what makes the peel's pair "
            f"DAG acyclic and the loop terminate; offending pairs (first 5): "
            f"{sample}"
        )
    undecided = pairs
    n_undecided = n_pairs
    flagged: DataFrame | None = None
    while n_undecided:
        b_side = undecided.select(F.col("b_id").alias("id")).distinct()
        survivors = (
            undecided.select(F.col("a_id").alias("id"))
            .distinct()
            .join(b_side, "id", "left_anti")
        )
        newly = (
            undecided.join(
                survivors.withColumnRenamed("id", "a_id"), "a_id", "left_semi"
            )
            .select(F.col("b_id").alias("id"))
            .distinct()
        )
        # plain union, no per-round distinct (r14): rounds flag DISJOINT
        # id sets (a flagged b's pairs leave the frontier, so it can
        # never be re-flagged), and the only consumers below are
        # semi/anti joins — set semantics either way. The old
        # `.distinct()` paid one wide exchange per chain level.
        flagged = newly if flagged is None else flagged.unionByName(newly)
        undecided = (
            undecided
            # decided pairs leave the frontier
            .join(survivors.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
            # a flagged doc can neither flag (a-side) nor be re-flagged
            # (b-side decided)
            .join(newly.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
            .join(newly.withColumnRenamed("id", "b_id"), "b_id", "left_anti")
            .select(*pairs.columns)
            # lazy checkpoint: the loop-condition count below is the
            # materializing action — checkpoint + emptiness test cost
            # ONE job per round instead of two (r15)
            .localCheckpoint(eager=False)
        )
        n_undecided = undecided.count()
    if flagged is None:
        return pairs  # empty input: nothing to resolve
    flagged = flagged.localCheckpoint(eager=True)
    return (
        pairs.join(flagged.withColumnRenamed("id", "b_id"), "b_id", "left_semi")
        .join(flagged.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
        .select(*pairs.columns)
    )


#: How many lowest-sid members a dense bucket keeps as probe targets
#: when it is collapsed (see :func:`collapse_dense_buckets`). One is
#: NOT enough: the min-sid member can be a banding false positive (it
#: collides in the bucket without being a near-dup of the cluster), and
#: a probe that verifies only against that alien representative
#: silently misses the whole template cluster — the probe-side twin of
#: the failure mode the self-join's chain edges fix (VERDICT r7 item 1;
#: tests/test_dedup.py::test_dense_bucket_alien_rep_chain_rescue).
#: Keeping 2 members means one false positive cannot mask the cluster;
#: the residual miss requires BOTH kept members to be false positives
#: of the same bucket, which banding makes vanishingly unlikely.
PROBE_DENSE_KEEP = 2


def collapse_dense_buckets(
    melted: DataFrame,
    dense_bucket_cap: int = DENSE_BUCKET_CAP,
    keep: int = PROBE_DENSE_KEEP,
) -> DataFrame:
    """Collapse hot LSH buckets in a melted (sid, band, bucket) index:
    buckets with more than ``dense_bucket_cap`` members keep only their
    ``keep`` lowest-sid members as probe targets, so one template
    mega-cluster cannot multiply every probing batch doc by the cluster
    size. One window pass — bucket size and sid rank share the
    (band, bucket) shuffle/sort, no stats join."""
    from pyspark.sql.window import Window

    ranked = Window.partitionBy("band", "bucket").orderBy("sid")
    whole = Window.partitionBy("band", "bucket")
    return (
        melted.withColumn("_rn", F.row_number().over(ranked))
        .withColumn("_bsize", F.count(F.lit(1)).over(whole))
        .filter((F.col("_bsize") <= dense_bucket_cap) | (F.col("_rn") <= keep))
        .select("sid", "band", "bucket")
    )


def build_lsh_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    checkable: bool = False,
    dense_bucket_cap: int | None = DENSE_BUCKET_CAP,
    keep: int = PROBE_DENSE_KEEP,
) -> DataFrame:
    """The probe-ready LSH corpus index: (sid, band, bucket), melted
    one row per (doc, band), with dense buckets already collapsed to
    their ``keep`` lowest-sid members. This is the table a 100 TB
    pipeline computes ONCE per corpus version and persists
    (:func:`write_lsh_index`); every ingest then probes against the
    stored index instead of re-signaturing the corpus — the
    manifest-as-persistent-state pattern of the reference
    (Notion_openai_vector_etl.py:190-215) lifted from exact hashes to
    similarity space. ``dense_bucket_cap=None`` skips the collapse
    (stores the raw melted buckets)."""
    melted = melted_signature_buckets(
        minhash_signatures(df, text_col, id_col, num_hashes, checkable=checkable),
        bands,
        num_hashes // bands,
        checkable,
    )
    if dense_bucket_cap is not None:
        melted = collapse_dense_buckets(melted, dense_bucket_cap, keep)
    return melted


def write_lsh_index(index: DataFrame, path: str) -> None:
    """Persist an LSH corpus index as parquet, partitioned by band and
    sorted by bucket within each file: band-partition pruning for
    banded maintenance jobs, bucket-clustered row groups so min/max
    stats prune bucket lookups."""
    (
        index.repartition("band")
        .sortWithinPartitions("bucket", "sid")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(path)
    )


def load_lsh_index(spark, path: str) -> DataFrame:
    """Read a stored LSH corpus index back as (sid, band, bucket) with
    the exact dtypes :func:`build_lsh_index` produced (partitionBy
    writes `band` as a partition directory; cast it back from the
    discovered partition column)."""
    return spark.read.parquet(path).select(
        "sid", F.col("band").cast("int").alias("band"), "bucket"
    )


def compact_lsh_index(
    spark,
    base_path: str,
    delta_dir: str,
    out_path: str,
    dense_bucket_cap: int | None = DENSE_BUCKET_CAP,
    keep: int = PROBE_DENSE_KEEP,
    after_batch: int | None = None,
    through_batch: int | None = None,
    delta_dirs: list[str] | None = None,
) -> bool:
    """Fold streaming index deltas (streaming/dedup_stream.py writes
    one per clean micro-batch) into the base index, producing the next
    probe-ready index version at ``out_path`` — the periodic
    maintenance job that keeps the per-ingest probe reading ONE
    index version instead of base + a growing delta pile. Union, one
    re-collapse, one write; the corpus documents are never touched.

    Collapse semantics vs rebuilding from scratch: keep-lowest-k is
    stable under incremental application on the KEPT side (the merged
    bucket's k lowest sids are among base's kept members plus the
    deltas), so the compacted index never loses a probe target a
    scratch-built index would keep. The one divergence is conservative:
    a bucket whose base entry was already collapsed reports fewer
    members than its true historical size, so it may stay under the
    cap and retain MORE probe targets than a scratch build — extra
    verification work on that bucket, never a missed flag. A full
    rebuild (build_lsh_index over the whole corpus) remains the
    periodic ground-truth refresh, e.g. whenever the corpus itself is
    re-versioned.

    ``after_batch``/``through_batch`` bound the delta read to the
    batch_id range ``(after, through]`` — the streaming lifecycle
    compacts only COMMITTED batches and only the range since the last
    compaction, never the whole pile (streaming/dedup_stream.py).

    Delta enumeration (ADVICE r9): the matching ``batch_id=`` dirs are
    enumerated EXPLICITLY (``operators.statefs.batch_dirs`` — on a
    bounded window, constructed from the contiguous epoch range, no
    root listing) and handed to the reader with ``basePath``, instead
    of ``spark.read.parquet(root)`` + a filter: the root read would
    file-list every leaf ever written (the O(stream-age) term
    ``streaming.state.read_prior_batches`` was written to kill) and CRASHES with
    'Unable to infer schema' when the root exists but the tail is
    empty (reachable after ``prune_deltas``). An empty tail is an
    early return: nothing to fold, no version written. Callers that
    already enumerated (``compact_stream_state``) pass ``delta_dirs``
    to skip the re-walk. Returns True iff a compacted version was
    written."""
    from notion_vector_store_etl_pipeline_spark.operators.statefs import (
        batch_dirs,
        state_fs,
    )

    if delta_dirs is None:
        delta_dirs = batch_dirs(
            state_fs(spark, delta_dir),
            delta_dir,
            after_batch if after_batch is not None else -1,
            (through_batch + 1) if through_batch is not None else 2**62,
        )
    if not delta_dirs:
        return False
    base = load_lsh_index(spark, base_path)
    deltas = spark.read.option("basePath", delta_dir).parquet(*delta_dirs)
    if after_batch is not None:
        deltas = deltas.filter(F.col("batch_id") > after_batch)
    if through_batch is not None:
        deltas = deltas.filter(F.col("batch_id") <= through_batch)
    deltas = deltas.select("sid", F.col("band").cast("int").alias("band"), "bucket")
    merged = base.unionByName(deltas)
    if dense_bucket_cap is not None:
        merged = collapse_dense_buckets(merged, dense_bucket_cap, keep)
    write_lsh_index(merged, out_path)
    return True


def minhash_probe_candidates(batch_melted: DataFrame, corpus_index: DataFrame) -> DataFrame:
    """Bipartite candidate generation: batch-melted buckets joined to
    the corpus index on (band, bucket) — batch x corpus collisions
    only, never batch-batch or corpus-corpus. Returns distinct
    (a_id = batch sid, b_id = corpus sid)."""
    return (
        batch_melted.select(F.col("sid").alias("a_id"), "band", "bucket")
        .join(
            corpus_index.select(F.col("sid").alias("b_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("a_id", "b_id")
        .dropDuplicates()
    )


def minhash_probe_neardup(
    df: DataFrame,
    batch_filter: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    checkable: bool = False,
    dense_bucket_cap: int | None = DENSE_BUCKET_CAP,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup: probe a batch of new docs against the
    existing corpus's LSH buckets — the join a 100 TB pipeline runs per
    ingest instead of re-running the full self-join. ``batch_filter``
    splits df into batch (True) and corpus (False). Candidates are
    batch-x-corpus bucket collisions ONLY (never batch-batch or
    corpus-corpus pairs — intra-batch dedup is the self-join's job),
    so candidate volume is linear in batch size at a fixed collision
    rate. Corpus buckets larger than ``dense_bucket_cap`` collapse to
    their ``PROBE_DENSE_KEEP`` lowest-sid members before the probe
    join: matching ANY kept member flags a batch doc as near-dup of
    the template cluster, the hot bucket cannot multiply every probing
    batch doc by the cluster size, and — because 2 members are kept,
    not 1 — a single banding false positive at the bucket minimum
    cannot mask the cluster (VERDICT r7 item 1). Exact Jaccard
    verification per emitted pair, same as the self-join path.
    Returns (batch_id, corpus_id, jaccard).

    ``corpus_index``: a prebuilt index from :func:`build_lsh_index`
    (typically :func:`load_lsh_index` of a stored table). When given it
    is used VERBATIM — the collapse is an index-build-time property,
    so ``dense_bucket_cap`` applies only to the compute-fresh path —
    and the corpus side of this call does no signature work at all:
    per ingest, only the batch is shingled/hashed.

    This is the registry's one-shot form: its candidate set and the
    verify's shingle table are persisted eagerly (each feeds several
    branches of one action), and the batch is shingled twice — once
    for signatures, once for the verify. The stream's per-micro-batch
    twin, :func:`streaming.dedup_stream.probe_batch`, shingles the
    batch once and reuses the arrays for both."""
    batch = df.filter(batch_filter)
    rows_per_band = num_hashes // bands
    if corpus_index is None:
        corpus_index = build_lsh_index(
            df.filter(~batch_filter),
            text_col,
            id_col,
            num_hashes,
            bands,
            checkable=checkable,
            dense_bucket_cap=dense_bucket_cap,
        )
    mc = _persist(corpus_index)
    mb = melted_signature_buckets(
        minhash_signatures(batch, text_col, id_col, num_hashes, checkable=checkable),
        bands,
        rows_per_band,
        checkable,
    )
    cand = minhash_probe_candidates(mb, mc)
    # eager for the same three-consumer reason as minhash_neardup's
    # candidate persist (both sides of the candidate-id union + the
    # pair join race a lazy cache)
    verified = jaccard_verify_pairs(
        df, _persist(cand, eager=True), text_col, id_col, k=3, threshold=threshold
    )
    return verified.select(
        F.col("a_id").alias("batch_id"),
        F.col("b_id").alias("corpus_id"),
        "jaccard",
    )


def sha60(col: Column) -> Column:
    """Stable 60-bit hash from the leading 15 hex chars of sha256 —
    bit-identical in Spark (``conv(substr(sha2(x,256),1,15),16,10)``)
    and DuckDB (``CAST('0x'||substr(sha256(x),1,15) AS BIGINT)``), which
    makes hash-derived fingerprints fully oracle-checkable. 60 bits so
    the value fits a signed BIGINT in both engines. ~10x slower than
    xxhash64 — use for checkable paths, xxhash64 for the hot path."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def simhash60_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(sid, simhash) — 60-bit SimHash over word shingles with the
    cross-engine ``sha60`` shingle hash, so an SQL oracle can replay the
    exact fingerprints. Unlike :func:`simhash64`'s per-bit array HOFs,
    the per-bit votes here are 60 conditional SUM aggregates over the
    exploded shingle table: whole-stage-codegen'd, map-side partial,
    ONE shuffle by doc id. Docs with no shingles (< k words) produce no
    row — mirrors the SQL GROUP BY over the shingle relation."""
    sh = df.select(
        F.col(id_col).alias("sid"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    # No dropDuplicates here: word_shingles already emits DISTINCT
    # shingles per document (dict.fromkeys), so a (sid, h) dedup would
    # be a no-op bought with a full shuffle of the exploded table —
    # the groupBy below map-side-combines 60 ints per sid instead.
    # (The oracle's SELECT DISTINCT mirrors the same per-doc property.)
    hh = sh.select("sid", sha60(F.col("shingle")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    agg = hh.groupBy("sid").agg(*votes)
    sim = None
    for b in range(60):
        term = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select("sid", sim.alias("simhash"))


def simhash64(text: Column, k: int = 3) -> Column:
    """64-bit SimHash over word shingles: per bit, sign of the sum of
    ±1 contributions from each shingle's xxhash64 bit."""
    shingles = word_shingles(text, k)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    bit_exprs = []
    for bit in range(64):
        votes = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_exprs.append(
            F.when(votes > 0, F.shiftleft(F.lit(1).cast("long"), bit)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out.bitwiseOR(e)
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact-threshold Jaccard self-join via AllPairs-style prefix
    filtering (public algorithm: Bayardo et al., WWW'07): identical
    output to the brute-force shingle join, far fewer candidates.

    ``max_shingle_freq``: optional stop-shingle cap (same semantics as
    :func:`jaccard_pairs`): shingles occurring in more than this many
    docs are removed BEFORE canonical ordering, so Jaccard is computed
    over the capped shingle sets. This is the skew guard for template/
    boilerplate corpora — WITHOUT it, exact pairwise enumeration over a
    m-doc template cluster has Theta(m^2) TRUE OUTPUT pairs (every
    template pair passes the threshold), which no candidate pruning can
    avoid; the cap removes boilerplate from the similarity definition
    itself, the standard semantic mitigation. ``None`` keeps the exact
    uncapped semantics (the registered baseline).

    - canonical shingle order = ascending global frequency (rarest
      first), ties by string — the order that makes prefixes selective;
    - prefix filter: two sets with Jaccard >= t MUST share a shingle
      within each one's first floor((1-t)*n)+1 canonical shingles, so
      the join runs on prefix shingles only;
    - length filter: |A| >= t*|B| for the pair to be feasible;
    - positional filter (PPJoin, Xiao et al., WWW'08): canonical rank
      aligns with array position in BOTH sorted arrays, so the first
      (lowest-rank) prefix match has positions (min_pa, min_pb) and the
      last has (max_pa, max_pb), giving two sound overlap upper bounds:
        o <= min(min_pa, min_pb) + 1 + min(n_a-min_pa-1, n_b-min_pb-1)
        o <= c_pp + min(n_a-max_pa-1, n_b-max_pb-1)
      (c_pp = prefix-prefix match count; every common element ranked at
      or before the last prefix match IS a prefix-prefix match, and
      everything after it lives in both tails). Candidates whose bound
      cannot reach the required overlap t/(1+t)*(n_a+n_b) are dropped
      BEFORE the expensive verify join — ~2.6x candidate reduction at
      sf0.1, which is where the runtime lives;
    - exact verification of survivors: array_intersect on the full
      canonical arrays, carried through a key join on each side.

    Shingles are folded to xxhash64 longs right after extraction: every
    downstream shuffle, sort, join key, and intersect then moves 8-byte
    longs instead of ~25-byte strings. Set sizes/overlaps (and thus the
    exact Jaccard values) are unchanged unless xxhash64 collides within
    the corpus vocabulary (probability ~|V|^2/2^65 — for a 100 TB corpus
    with 10^10 distinct shingles, ~1e-5; acceptable for dedup).

    The two multi-consumer intermediates are persisted AND eagerly
    materialized: with lazy persist, the a/b/verify branches of one
    action race to compute `ordered` before the cache populates,
    recomputing the whole shingle pipeline per branch (measured 2-5x
    end-to-end blowup at sf0.1).
    """
    sh = _persist(
        df.select(
            F.col(id_col).alias("sid"),
            F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
        ).select("sid", F.xxhash64("shingle").alias("h"))
    )  # feeds freq AND the ordering join — shingle the corpus once
    sh.count()  # eager: both consumers below must hit the cache
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    if max_shingle_freq is not None:
        freq = freq.filter(F.col("freq") <= max_shingle_freq)
    # with the cap, the inner join against the surviving frequencies
    # drops hot shingles from every doc's set (docs left with zero
    # shingles drop out of `ordered` entirely, mirroring the oracle)
    # no broadcast() hint on freq: corpus-vocabulary cardinality (80M
    # distinct shingle hashes at the sf10 smoke, ~GBs serialized), the
    # classic mandatory-broadcast blowup at 100x — AQE picks broadcast
    # at small SFs and shuffle join at scale from runtime stats
    ordered = (
        sh.join(freq, "h")
        .groupBy("sid")
        .agg(F.array_sort(F.collect_list(F.struct("freq", "h"))).alias("ranked"))
        .select(
            "sid",
            F.transform("ranked", lambda x: x.getField("h")).alias("sh_all"),
        )
        .withColumn("n", F.size("sh_all"))
        .withColumn(
            "prefix",
            F.slice(
                "sh_all",
                1,
                # sound bound is n - ceil(t*n) + 1; the epsilon absorbs
                # float artifacts like (1.0-0.9)*10 = 0.9999... that
                # would otherwise shorten the prefix by one and silently
                # drop true pairs — it only ever LENGTHENS the prefix
                (F.floor((1.0 - threshold) * F.col("n") + 1e-9) + 1).cast("int"),
            ),
        )
    )
    ordered = _persist(ordered)
    ordered.count()  # eager: a/b/verify branches all read it

    a = ordered.select(
        F.col("sid").alias("a_id"),
        F.col("n").alias("n_a"),
        F.posexplode("prefix").alias("pa", "h"),
    )
    b = ordered.select(
        F.col("sid").alias("b_id"),
        F.col("n").alias("n_b"),
        F.posexplode("prefix").alias("pb", "h"),
    )
    required = F.lit(threshold / (1.0 + threshold)) * (
        F.col("n_a") + F.col("n_b")
    ) - F.lit(1e-9)  # epsilon guards the float edge; only ever weakens pruning
    ubound = F.least(
        F.least("min_pa", "min_pb")
        + 1
        + F.least(F.col("n_a") - F.col("min_pa") - 1, F.col("n_b") - F.col("min_pb") - 1),
        F.col("c_pp")
        + F.least(F.col("n_a") - F.col("max_pa") - 1, F.col("n_b") - F.col("max_pb") - 1),
    )
    cands = (
        a.join(b, "h")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            # length filter: max(na,nb)*t <= min(na,nb); the epsilon
            # keeps boundary pairs (e.g. t=0.07, 7-in-100: 100*0.07 =
            # 7.000000000000001 would wrongly kill an exact-threshold
            # pair) — like `required` below it only ever weakens pruning
            & (F.greatest("n_a", "n_b") * threshold <= F.least("n_a", "n_b") + 1e-9)
        )
        .groupBy("a_id", "b_id", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("c_pp"),
            F.min("pa").alias("min_pa"),
            F.min("pb").alias("min_pb"),
            F.max("pa").alias("max_pa"),
            F.max("pb").alias("max_pb"),
        )
        .filter(ubound >= required)
        .select("a_id", "b_id", "n_a", "n_b")
    )
    arr_a = ordered.select(F.col("sid").alias("a_id"), F.col("sh_all").alias("sh_a"))
    arr_b = ordered.select(F.col("sid").alias("b_id"), F.col("sh_all").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    return (
        cands.join(arr_a, "a_id")
        .join(arr_b, "b_id")
        .withColumn("jaccard", F.round(inter / union.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
