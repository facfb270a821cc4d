"""Document deduplication for large-scale training-data pipelines.

All hot paths are built-in Column expressions (xxhash64, md5, array
higher-order functions) — JVM-side, whole-stage codegen, no Python.
The LSH variants follow the classic shingle -> minhash -> band ->
bucket-join construction: the only shuffle is the equi-join/groupBy on
(band, signature), which scales linearly and AQE-splits hot buckets
(e.g. boilerplate-heavy shingle sets).

* exact_dedup        — md5(text) hash groups (one shuffle on the hash)
* ngram_jaccard_pairs— blocked exact word-n-gram Jaccard (quadratic
                       within blocks; the exact small-scale oracle)
* minhash_lsh_pairs  — MinHash+LSH candidates, optionally verified with
                       exact Jaccard (the 10^12-row path)
* simhash            — 48-bit SimHash fingerprint per doc; neardup =
                       banded hamming join
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne-31 modulus: pmod(xxhash64, M) * a + b stays far below 2^63
# for a <= 63, b < 2^40 — overflow-safe int64 arithmetic.
MERSENNE = (1 << 31) - 1


from ..util import fan_out


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, n_docs, min_doc).  Map-side
    partial agg -> one shuffle on the 128-bit hash; no text comparison."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc"))
    )


def ngrams_from_tokens(tokens_col, n: int = 3):
    """array<string> of word n-grams from an ALREADY-MATERIALIZED token
    array column.

    Pass a real column (attribute), not a `split(...)` expression: HOFs
    are interpreted and the lambda body references the token array n
    times per output element — on an attribute that is an O(1) array
    read, but on an inlined split() subtree the text gets re-split
    n * n_grams times per row (measured: 236s vs 8s for 480k docs)."""
    w = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.when(F.size(w) < n, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
        )
    )


def word_ngrams(text_col, n: int = 3):
    """array<string> of word n-grams (whitespace tokenized).

    Convenience single-expression form for small inputs / oracle
    queries; hot paths should use :func:`distinct_ngrams_arrow` (see its
    docstring for why)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return ngrams_from_tokens(F.split(c, " "), n)


def distinct_ngrams_arrow(text_col, n: int = 3):
    """DISTINCT word n-grams as an Arrow-batched pandas UDF — the hot
    path, despite this repo's own "UDFs are the slow path" rule.

    Measured justification: higher-order Column functions
    (transform/aggregate lambdas) are CodegenFallback expressions —
    interpreted, and in practice the shingling stage showed ZERO
    parallel speedup (24s at 2 AND at 8 cores for the same 80k docs, at
    any partition count), while this Arrow batch path runs the same
    input in 1.5s and parallelizes.  Output values are identical to
    ``array_distinct(word_ngrams(text, n))`` (str.split(' ') matches
    F.split(text, ' ') incl. empty tokens; first-occurrence distinct
    matches array_distinct) — cross-checked in tests/test_dedup.py."""
    import pandas as pd

    @F.pandas_udf("array<string>")
    def _ngrams(texts: pd.Series) -> pd.Series:
        out = []
        join = " ".join
        for t in texts:
            w = ("" if t is None else t).split(" ")
            if len(w) < n:
                out.append([])
            else:
                # zip-of-slices instead of per-gram list slicing (r6):
                # same grams in the same first-occurrence order, ~1.5x
                # less Python per doc (measured 38 -> 26 us/doc) — this
                # loop is the dedup pipeline's per-doc floor.
                out.append(list(dict.fromkeys(map(join, zip(*(w[i:] for i in range(n)))))))
        return pd.Series(out)

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _ngrams(c)


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 3,
    min_jaccard_milli: int = 150,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs within blocks.

    Output (a_id, b_id, jac_milli) with jac_milli = floor(1000*|I|/|U|),
    all-integer so it is engine-independent.  Quadratic within a block —
    use minhash_lsh_pairs at scale; this is the exact oracle-checkable
    variant.
    """
    g = docs.select(
        F.col(id_col).alias("id"),
        (F.col(block_col) if block_col else F.lit(0)).alias("blk"),
        F.split(F.col(text_col), " ").alias("_w"),
    ).select(
        "id", "blk", F.array_distinct(ngrams_from_tokens("_w", n)).alias("grams")
    )
    a = g.select(F.col("id").alias("a_id"), F.col("blk"), F.col("grams").alias("ga"))
    b = g.select(F.col("id").alias("b_id"), F.col("blk"), F.col("grams").alias("gb"))
    j = a.join(b, "blk").filter(F.col("a_id") < F.col("b_id"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    jac = F.floor(F.lit(1000) * inter / F.greatest(union, F.lit(1))).cast("long")
    return (
        j.withColumn("jac_milli", jac)
        .filter(F.col("jac_milli") >= min_jaccard_milli)
        .select("a_id", "b_id", "jac_milli")
    )


def minhash_signature(grams_col, n_hashes: int = 32):
    """array<long> MinHash signature: h_i = min over shingles of
    (a_i * H(s) + b_i) mod M31, with fixed odd a_i/b_i.

    The expensive string hash H(s) = pmod(xxhash64(s), M31) is computed
    ONCE per shingle; the n_hashes permutations are cheap integer passes
    over the long array (measured: 5x faster than re-hashing strings
    per permutation)."""
    g = F.col(grams_col) if isinstance(grams_col, str) else grams_col
    # HOFs are interpreted (no codegen/CSE): referencing a "hashes" column
    # n_hashes times would re-run xxhash64 over every shingle each time.
    # Instead: ONE aggregate pass — hash each shingle once, update all
    # n_hashes running minima via zip_with.
    a_consts = F.lit([2 * i + 1 for i in range(n_hashes)])
    b_consts = F.lit([0x9E3779B9 * (i + 1) & ((1 << 30) - 1) for i in range(n_hashes)])
    init = F.array_repeat(F.lit(MERSENNE).cast("long"), n_hashes)
    # hash once per shingle; inside the aggregate, h is a *bound lambda
    # variable* (a value), so the n_hashes references don't re-hash.
    hashes = F.transform(g, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE)))

    # The permutation sweep iterates a LITERAL-ARRAY transform instead of
    # an unrolled F.array(*[...32 exprs...]): the expression tree shrinks
    # ~n_hashes-fold, which cuts Catalyst's single-threaded analysis of
    # this plan from seconds to milliseconds — that serial driver cost was
    # the scaling bottleneck of the whole dedup pipeline (BENCH_SCALING
    # r1: minhash efficiency 0.27, latency-floor bound).
    def step(acc, h):
        perms = F.zip_with(a_consts, b_consts, lambda a, b: (h * a + b) % MERSENNE)
        return F.zip_with(acc, perms, lambda u, v: F.least(u, v))

    sig = F.aggregate(hashes, init, step)
    return F.when(F.size(g) == 0, F.array_repeat(F.lit(-1).cast("long"), n_hashes)).otherwise(sig)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    n_bands: int = 8,
    verify_min_jaccard_milli: int | None = 500,
    verify_semijoin: bool | None = False,
    checkpoint=None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs — the 10^12-doc path.

    shingle -> 32 minhashes -> 8 bands of 4 -> equi-join on
    (band, signature) -> optional exact-Jaccard verification of the
    candidates only.  Every stage is a narrow map except the band join.
    Output (a_id, b_id[, jac_milli]).

    ``checkpoint=(StageRunner, fingerprint)`` materializes the signature
    table as a resumable StageRunner stage (id-sorted parquet + manifest
    with lineage): a re-run with the same input fingerprint skips the
    whole shingle+signature pass — the north rule's "any stage is
    resumable" applied to the dedup pipeline.  Without it, NOTHING is
    cached: the gram relation is recomputed for each verify side instead
    of persist()ing the signature table — measured faster at BOTH 8 and
    32 cores (5.75s vs 9.27s / 4.99s vs 8.95s on 320k docs), because the
    local block manager serializes large cached reads under many threads
    while the Arrow re-shingle is cheap (~1.5s/320k docs) and scales
    with cores; on a cluster, recompute-over-cache is likewise the right
    default for cheap lineage feeding few consumers.
    """
    rows = n_hashes // n_bands
    # Docs with no shingles (< n tokens) are dropped up front: their
    # Jaccard to anything is 0/undefined, and the sentinel signature
    # would otherwise put ALL of them into one giant band bucket
    # (quadratic skew at 10^12 docs, plus false-positive pairs when
    # verification is off).
    #
    # Signatures are computed by EXPLODE -> hash once -> n_hashes
    # codegen'd min() aggregates (minhash_signatures_exploded), NOT by
    # the per-row HOF sweep (minhash_signature): higher-order functions
    # are interpreted in Spark, and the nested zip_with permutation
    # sweep measured ~2-4 ms/doc — 95 CPU-years at 10^12 docs — while
    # the explode+agg form stays inside whole-stage codegen with
    # map-side partial mins, so the shuffle carries one combined row
    # per (partition, doc).  Same (a_i, b_i, M31) arithmetic, identical
    # signatures (pytest-cross-checked against the Column form).
    def _min_aggs():
        return [
            F.min(
                (F.col("h") * F.lit(2 * i + 1)
                 + F.lit(0x9E3779B9 * (i + 1) & ((1 << 30) - 1))) % F.lit(MERSENNE)
            ).alias(f"_m{i}")
            for i in range(n_hashes)
        ]

    def _exploded_hashes() -> DataFrame:
        # Docs with no shingles vanish at the explode — same effect as
        # an explicit filter(size(grams) > 0).
        return fan_out(docs).select(
            F.col(id_col).alias("id"),
            F.explode(distinct_ngrams_arrow(text_col, n)).alias("gram"),
        ).withColumn("h", F.pmod(F.xxhash64("gram"), F.lit(MERSENNE)))

    def build_signatures() -> DataFrame:
        # Checkpoint-stage build: ONE pass computing the n_hashes min()
        # aggregates AND collect_list(gram) in the same groupBy, so the
        # Arrow shingling UDF runs exactly once per document (ADVICE r2:
        # an id-join here would duplicate the UDF subtree).  collect_list
        # order is partition-dependent, which is fine: grams feed only
        # set operations (array_intersect / size Jaccard).
        aggs = _min_aggs() + [F.collect_list("gram").alias("grams")]
        return _exploded_hashes().groupBy("id").agg(*aggs).select(
            "id", "grams", F.array(*[f"_m{i}" for i in range(n_hashes)]).alias("sig")
        )

    if checkpoint is not None:
        sr, fp = checkpoint
        g = sr.run(
            "minhash_signatures",
            f"{fp}:n={n}:h={n_hashes}",
            build_signatures,
            zkey_col="id",
        )
        sig_rel = g.select("id", "sig")
        gm = g.select("id", "grams")
    else:
        sig_rel = _exploded_hashes().groupBy("id").agg(*_min_aggs()).select(
            "id", F.array(*[f"_m{i}" for i in range(n_hashes)]).alias("sig")
        )
        # verify side re-shingles rather than caching (see docstring)
        gm = fan_out(docs).select(
            F.col(id_col).alias("id"), distinct_ngrams_arrow(text_col, n).alias("grams")
        )
    # band relation carries only (id, band, bh): the gram arrays would
    # otherwise be replicated n_bands times through the shuffle
    def bands_of(sig_df: DataFrame) -> DataFrame:
        return sig_df.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bidx).alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at("sig", bidx * rows + r + 1)
                                    for r in range(rows)
                                ]
                            ).alias("bh"),
                        )
                        for bidx in range(n_bands)
                    ]
                )
            ).alias("bs"),
        ).select("id", "bs.band", "bs.bh")

    bands = bands_of(sig_rel)
    # Verification shuffle hygiene (active when verify is on and
    # verify_semijoin is not False): the gram relation is corpus-sized
    # (every doc x its shingle array), but only CANDIDATE docs need their
    # grams shuffled into the verify joins.  The candidate-member id set
    # is derived from the BAND relation, not the pair relation: any doc
    # sharing a (band, bh) bucket with another doc is a pair member, so
    # `bands ⋉ {buckets with >= 2 docs}` is exactly the id set — the
    # (potentially enormous, quadratic) pair relation is never
    # materialized, checkpointed, or persisted (r5 rework: deriving ids
    # from `cand` made the pair relation a two-consumer node that had to
    # be persist()ed, and the local block manager's serialized cached
    # reads at 32 threads were the top per-stage term in the 8->32
    # scaling profile — see BENCH_SCALING.md r5 addendum).  With ids
    # from the band side, `cand` has exactly ONE consumer (the verify
    # join) and nothing is persisted: every relation in the plan is
    # linear except the join outputs themselves.  Default is False
    # (fully lazy plan, zero jobs at call time): the semi-join pays one
    # extra band-relation pass to shrink the verify-join gram shuffle
    # from |corpus| to |candidate| rows, which is profitable only once
    # the corpus gram shuffle dominates — measured 2x SLOWER at 5k docs
    # but the 8->32-core scaling win at 2.5M docs (bench_scaling passes
    # True).  True forces it; None auto-selects.  Both True and None
    # run one eager id-collection job (bounded — ADVICE r4: a
    # forced-True caller on a high-collision corpus must NOT broadcast
    # an unbounded id set, so above 4M collected ids the call degrades
    # to the plain corpus-wide joins).
    def pairs_from(band_rel: DataFrame) -> DataFrame:
        a = band_rel.select(F.col("id").alias("a_id"), "band", "bh")
        b = band_rel.select(F.col("id").alias("b_id"), "band", "bh")
        return (
            a.join(b, ["band", "bh"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )

    if verify_min_jaccard_milli is None:
        return pairs_from(bands).select("a_id", "b_id")
    use_semi = verify_semijoin
    ids_local = None
    if use_semi is None or use_semi:
        # ONE pass derives the candidate-member id set AND the
        # broadcastability decision (r6 rework, guide §2.4/§5): the
        # previous shape ran a full signature pass just for a size
        # ESTIMATE, then re-ran the whole band pipeline inside the
        # broadcast subquery of the final query — broadcast exchanges
        # materialize before the main query stages, so the shuffle
        # under them was NOT reused (measured at 64x: the est + subquery
        # machinery was ~8s of a 13.9s pairs job; the same job with the
        # id set collected once runs the signature pipeline twice total:
        # this ids pass + the shared band exchange of the final query).
        # Candidate ids come from duplicate buckets of the linear band
        # relation, bounded-collected (4M rows + 1 sentinel) through
        # Arrow, and re-broadcast as a LOCAL relation with no subtree to
        # recompute.  More ids than the bound -> degrade to the plain
        # corpus-wide verify joins (the ADVICE r4 guard, now on the
        # exact id count instead of the bucket-size upper bound).
        from pyspark.sql import Window as _W

        # one window count over (band, bh) instead of a groupBy +
        # semi-join back onto the same exchange (r6: measured ~1s faster
        # at 64x — one shuffle of the band relation instead of one
        # shuffle read twice plus a hash join)
        ids = (
            bands.withColumn(
                "m", F.count(F.lit(1)).over(_W.partitionBy("band", "bh"))
            )
            .filter(F.col("m") >= 2)
            .select("id")
            .distinct()
        )
        ids_pdf = ids.limit(4_000_001).toPandas()
        use_semi = len(ids_pdf) <= 4_000_000
        if use_semi:
            ids_local = docs.sparkSession.createDataFrame(ids_pdf, "id long")
    if use_semi:
        # The pair join itself can run over CANDIDATE-restricted
        # signatures (r6): every member of a >= 2-doc bucket is in
        # `ids`, so restricting the band relation to ids removes no
        # pair and adds none — the final query's only corpus-sized
        # stage disappears (the full signature pipeline runs exactly
        # once, in the ids pass above; at 64x the verify query dropped
        # from corpus-sized sig + joins to candidate-sized everything).
        if checkpoint is not None:
            # stage-backed: the parquet-read bands/grams semi-join cheaply
            pair_bands = bands.join(F.broadcast(ids_local), "id", "leftsemi")
            gm = gm.join(F.broadcast(ids_local), "id", "leftsemi")
        else:
            # prune docs BEFORE the shingling UDF runs — an explicit
            # semi-join below the Arrow projection, not a filter above
            # it that Catalyst may or may not push through the UDF.
            # The candidate gram relation is localCheckpointed: it feeds
            # THREE subtrees (signatures for the pair join + both verify
            # sides), each of which would otherwise scan the corpus and
            # re-run the shingle UDF; its size is bounded by the 4M-id
            # guard above, so the materialization is candidate-sized,
            # never corpus-sized (the r5 no-persist rule was about
            # corpus-sized relations under the 32-thread block manager).
            cand_gm = (
                fan_out(docs)
                .select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
                .join(F.broadcast(ids_local), "id", "leftsemi")
                .select("id", distinct_ngrams_arrow("_t", n).alias("grams"))
                .localCheckpoint()
            )
            ex_c = cand_gm.select(
                "id", F.explode("grams").alias("gram")
            ).withColumn("h", F.pmod(F.xxhash64("gram"), F.lit(MERSENNE)))
            sig_c = ex_c.groupBy("id").agg(*_min_aggs()).select(
                "id", F.array(*[f"_m{i}" for i in range(n_hashes)]).alias("sig")
            )
            pair_bands = bands_of(sig_c)
            gm = cand_gm
    else:
        pair_bands = bands
    cand = pairs_from(pair_bands)
    cand = (
        cand.join(gm.withColumnRenamed("id", "a_id").withColumnRenamed("grams", "ga"), "a_id")
        .join(gm.withColumnRenamed("id", "b_id").withColumnRenamed("grams", "gb"), "b_id")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    jac = F.floor(F.lit(1000) * inter / F.greatest(union, F.lit(1))).cast("long")
    return (
        cand.withColumn("jac_milli", jac)
        .filter(F.col("jac_milli") >= verify_min_jaccard_milli)
        .select("a_id", "b_id", "jac_milli")
    )


SIMHASH_BITS = 48


def simhash_col(text_col, bits: int = SIMHASH_BITS):
    """SimHash fingerprint of whitespace tokens, as a non-negative long.

    Per token t and bit j: contribute +1 if bit j of xxhash64(t) else -1;
    fingerprint bit j = (sum > 0).

    REFERENCE TWIN ONLY: this per-row form uses higher-order functions,
    which are CodegenFallback (interpreted) — the scale path is
    :func:`simhash_fingerprints` (explode -> codegen'd conditional-sum
    aggregates), cross-checked bit-identical against this form in
    tests/test_dedup.py.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(c, " ")
    # hash each token ONCE (HOFs are interpreted — per-bit re-hashing
    # would cost `bits` string hashes per token); h is a bound lambda
    # variable below, so the per-bit mask tests just read it.  The
    # per-bit sweep iterates a literal weight array rather than `bits`
    # unrolled exprs — same planning-cost rationale as minhash_signature.
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    weights = F.lit([1 << j for j in range(bits)])

    def step(acc, h):
        pm = F.transform(
            weights,
            lambda w: F.when(h.bitwiseAND(w) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
        )
        return F.zip_with(acc, pm, lambda u, v: u + v)

    sums = F.aggregate(hashes, zeros, step)
    return F.aggregate(
        F.zip_with(sums, weights, lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_fingerprints(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, sh) SimHash fingerprints — the SCALE-PATH kernel.

    EXPLODE tokens -> one xxhash64 per token -> `bits` codegen'd
    conditional-sum aggregates (``sum(when(bit_j(h), 1).otherwise(-1))``)
    with map-side partial combine, so the shuffle carries one combined
    row per (partition, doc) -> one projection reassembles the
    fingerprint.  Replaces the per-row higher-order-function sweep
    (:func:`simhash_col`): HOF lambdas are CodegenFallback —
    interpreted — and the measured MinHash analog of this rewrite was
    ~100x (commit 0b314ec).  Outputs are bit-identical to
    ``simhash_col`` (pytest cross-check, tests/test_dedup.py); docs with
    NULL text produce no rows (the Column form yields NULL there — both
    are excluded from any band join, so pair outputs are identical)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    ).select("id", F.xxhash64("_tok").alias("h"))
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j).cast("long")) != 0, 1)
            .otherwise(-1)
            .cast("long")
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"_s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select("id", fp.alias("sh"))


def simhash_bands_for(max_hamming: int, bits: int = SIMHASH_BITS) -> int:
    """Smallest band count dividing `bits` that makes pigeonhole banding
    COMPLETE for radius max_hamming: with n_bands bands, a pair with
    hamming <= max_hamming shares at least one exact band iff
    max_hamming < n_bands (pigeonhole over the differing bits)."""
    for n in range(max_hamming + 1, bits + 1):
        if bits % n == 0:
            return n
    return bits


def banded_hamming_pairs(
    fps: DataFrame,
    *,
    bits: int,
    max_hamming: int,
    n_bands: int | None = None,
    id_col: str = "id",
    fp_col: str = "fp",
) -> DataFrame:
    """All pairs of a (id, fingerprint) relation within hamming distance
    <= max_hamming — the banded hamming join behind SimHash
    (:func:`simhash_neardup_pairs`), for fingerprints of any width up to
    64 bits.

    Pigeonhole banding: with n_bands bands, any pair within hamming
    distance < n_bands shares at least one exact band (its <= max_hamming
    differing bits can dirty at most max_hamming bands) -> equi-join on
    (band, band_bits), verify exact ``bit_count(xor)`` on candidates
    only.  The default n_bands is DERIVED as the smallest divisor of
    `bits` greater than max_hamming (simhash_bands_for), so the contract
    'all pairs with hamming <= max_hamming' always holds (recall 1.0,
    not approximate).  shiftrightunsigned makes the band extraction
    sign-blind, so full 64-bit fingerprints stored as signed longs work.
    Output (a_id, b_id, hamming)."""
    if n_bands is None:
        n_bands = simhash_bands_for(max_hamming, bits)
    if max_hamming >= n_bands:
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee recall at max_hamming={max_hamming}; "
            f"need n_bands > max_hamming"
        )
    band_bits = bits // n_bands
    s = fps.select(F.col(id_col).alias("id"), F.col(fp_col).alias("sh"))
    bands = s.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bidx).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), bidx * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bb"),
                    )
                    for bidx in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("id", "sh", "bs.band", "bs.bb")
    a = bands.select(F.col("id").alias("a_id"), F.col("sh").alias("sha"), "band", "bb")
    b = bands.select(F.col("id").alias("b_id"), F.col("sh").alias("shb"), "band", "bb")
    # shuffle_hash (not broadcast): both sides then shuffle on the SAME
    # (band, bb) partitioning over the SAME subtree, so ReuseExchange
    # computes the fingerprint relation ONCE.  With AQE's broadcast
    # pick (small inputs) the build side re-executes the whole
    # fingerprint subtree; a subtree with a Python stage would run it
    # twice (measured: 2 MapInPandas nodes and 0 ReusedExchange without
    # the hint, 1 live Python stage with it).
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "bb"])
        .filter(F.col("a_id") < F.col("b_id"))
    )
    # hamming filter BEFORE the pair dedup (r6, guide §2.3/§2.4): every
    # duplicate row of a pair carries the same (sha, shb), so bit_count
    # commutes with dropDuplicates — but the filter is codegen on the
    # un-shuffled join output while the dedup is an exchange keyed on
    # (a_id, b_id).  Filtering first shrinks that exchange from ALL
    # candidate pairs (quadratic in bucket occupancy — 2.4e8 rows
    # measured at radius 12 over 22k 64-bit fingerprints) to true pairs
    # only.
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id", "hamming")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    n_bands: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming —
    fingerprints via the codegen explode/agg kernel, pair search via the
    shared :func:`banded_hamming_pairs` (see there for the recall
    proof).  Output (a_id, b_id, hamming)."""
    s = simhash_fingerprints(
        fan_out(docs), text_col=text_col, id_col=id_col, bits=bits
    )
    return banded_hamming_pairs(
        s, bits=bits, max_hamming=max_hamming, n_bands=n_bands,
        id_col="id", fp_col="sh",
    )


def connected_components(
    edges: DataFrame,
    *,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a pair relation — the final stage of a
    dedup pipeline (cluster near-dup pairs, then keep one canonical doc
    per component).  Output (id, component) with component = the
    minimum member id, for every id incident to an edge.

    Min-label propagation WITH POINTER DOUBLING: each round every node
    takes (a) the minimum label among its neighbors and (b) its current
    label's OWN label (path halving — the label graph is a forest
    pointing at smaller ids, so following one hop at least halves the
    remaining depth).  Labels only ever decrease, always to the label of
    a node in the same component, so correctness is invariant; the
    doubling step makes convergence O(log diameter) rounds instead of
    O(diameter) (r2 VERDICT "What's wrong" #5 — a 10^6-long dup chain
    converges in ~20 rounds, not 10^6).  One shuffle per round for each
    of the two joins; localCheckpoint() cuts the growing lineage so
    round N's plan does not replay rounds 1..N-1.

    Raises RuntimeError if max_iter is exhausted before convergence
    (ADVICE r2: silently returning partially-propagated labels would
    corrupt downstream canonical-doc selection with no error).

    Cluster note: the per-round localCheckpoint blocks live on
    executors — an executor loss invalidates them mid-job.  On a real
    cluster substitute reliable ``df.checkpoint()`` (after
    ``sc.setCheckpointDir`` on shared storage) or materialize rounds
    through StageRunner; the algorithm is unchanged."""
    # No .distinct() on the symmetric relation (r6, guide §2.4): every
    # consumer is a min() aggregate or feeds one, so duplicate edges
    # cannot change any label — the distinct was a full exchange of the
    # edge relation bought for nothing when callers pass unique pairs
    # (all in-repo callers do: LSH/simhash pairs are dropDuplicates'd,
    # grid-cluster cell adjacency is one offset per pair).  A caller
    # with heavily duplicated edges should pre-dedup for join size,
    # not correctness.
    # Symmetrize by EXPLODING a 2-struct array instead of a union of two
    # projections (r6): union branches share no subtree in Spark's plan,
    # so the old shape evaluated the whole edge-producing plan TWICE in
    # this checkpoint job — for the dedup pipeline that is the LSH
    # verify join running twice above its (reused) exchanges.  The
    # explode is one cheap Generate over a single evaluation.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint()
    )
    # Seed labels with min(id, min neighbor) — exactly round 1's
    # neighbor-min step folded into the init aggregate (r6: one full
    # round fewer for the same fixpoint; every id appears as src in the
    # symmetric relation, so coverage is identical to the old
    # distinct-ids init).
    lab = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_m")).alias("lbl"),
        )
        .localCheckpoint()
    )
    # Convergence metric: labels only ever DECREASE, so the label sum is
    # strictly monotone and `sum unchanged == no label changed` — one
    # cheap aggregate over the freshly checkpointed relation instead of
    # the old full self-join diff count (r6: one shuffle join fewer per
    # round).  decimal(38,0) keeps the sum exact for 10^12 ids (ANSI
    # mode would raise on a long overflow).
    def _lbl_sum(df) -> object:
        return df.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]

    prev_sum = _lbl_sum(lab)
    converged = False
    first = True
    for _ in range(max_iter):
        nbr = (
            sym.join(lab, sym.dst == lab.id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = (
            lab.join(nbr, lab.id == nbr.src, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            )
        )
        if first:
            # Round-1 fast path (r6, guide §2.4): a labeling that one
            # neighbor-min pass leaves unchanged is already CONSTANT per
            # component — for every symmetric edge (x, y), stability
            # gives lbl(y) >= lbl(x) from x's side and lbl(x) >= lbl(y)
            # from y's side, so labels agree across every edge; and
            # since every label is the id of a node in the same
            # component, lbl(lbl(x)) = lbl(x) — the doubling join is
            # provably a no-op.  The min-seeded init already converges
            # pair/star components (the common dedup-graph shape), so
            # most calls finish here with ONE join pass instead of two.
            # Only round 1 pays the extra sum check: a later round only
            # runs at all because labels are still moving.
            first = False
            stepped = stepped.localCheckpoint()
            s = _lbl_sum(stepped)
            lab = stepped
            if s == prev_sum:
                converged = True
                break
            prev_sum = s
            # fall through: finish round 1 with the doubling step below
        # pointer doubling: lbl <- lbl(lbl).  The parent relation is lab
        # itself (id -> lbl); a left join covers labels that are roots.
        parent = lab.select(F.col("id").alias("_pid"), F.col("lbl").alias("_plbl"))
        new = (
            stepped.join(parent, stepped.lbl == parent._pid, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("_plbl", "lbl")).alias("lbl"),
            )
            .localCheckpoint()
        )
        new_sum = _lbl_sum(new)
        lab = new
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds; "
            "labels would be incorrect — raise max_iter (rounds needed ~ "
            "log2(component diameter) + 2)"
        )
    return lab.select("id", F.col("lbl").alias("component"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_hits: int = 1,
    broadcast_benchmark: bool | None = None,
    return_clean: bool = False,
) -> DataFrame:
    """Benchmark decontamination: find (or drop) corpus docs that share
    >= `min_hits` DISTINCT word n-grams with a benchmark / eval set —
    the standard train-test-overlap scrub of an LLM training pipeline
    (long n-gram collision with an eval question means the model will
    be graded on memorized text).

    Returns (id, n_hits) for contaminated docs, or the clean corpus
    (original schema) when `return_clean=True`.

    Scale design (100 TB corpus x ~10^4-10^6 benchmark docs): the
    benchmark side collapses to its DISTINCT n-gram relation — bounded
    by benchmark size, independent of corpus size.  Corpus docs explode
    to distinct grams (Arrow shingler, the measured hot path — see
    distinct_ngrams_arrow) and hash-join on the gram string with the
    benchmark set as the BUILD side: broadcast when the benchmark is
    small enough (`broadcast_benchmark`; auto = benchmark doc count
    <= 500k, the same order as the semi-join gate in minhash_lsh_pairs),
    else a shuffled hash join keyed on gram — either way the corpus
    side streams through exactly once.  The per-doc hit count is one
    partial-aggregating groupBy on doc id; `return_clean` anti-joins
    the (tiny) contaminated-id set back onto the corpus.
    """
    bench_grams = (
        benchmark.select(
            F.explode(distinct_ngrams_arrow(text_col, n)).alias("gram")
        )
        .distinct()
    )
    if broadcast_benchmark is None:
        broadcast_benchmark = benchmark.count() <= 500_000
    build = F.broadcast(bench_grams) if broadcast_benchmark else bench_grams

    corpus_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(distinct_ngrams_arrow(text_col, n)).alias("gram"),
    )
    hits = (
        corpus_grams.join(build, "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )
    if not return_clean:
        return hits.select(F.col("id").alias(id_col), "n_hits")
    return docs.join(
        F.broadcast(hits.select(F.col("id").alias(id_col))), id_col, "left_anti"
    )
