"""Dedup operators vs independent Python models (the engine-specific
xxhash64-based paths that the SQL oracle can't check)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zcurve_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    word_ngrams,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Inject exact + near duplicates so dedup paths have positives."""
    base = docs.limit(20).select("doc_id", "text", "lang")
    exact = base.select((F.col("doc_id") + 10_000).alias("doc_id"), "text", "lang")
    near = base.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tweak")).alias("text"),
        "lang",
    )
    return docs.select("doc_id", "text", "lang").union(exact).union(near).cache()


def _py_ngrams(text, n=3):
    w = text.split(" ")
    return set(" ".join(w[i : i + n]) for i in range(len(w) - n + 1)) if len(w) >= n else set()


def _py_jaccard(a, b):
    g1, g2 = _py_ngrams(a), _py_ngrams(b)
    u = len(g1 | g2)
    return (1000 * len(g1 & g2)) // max(u, 1)


class TestExactDedup:
    def test_groups(self, spark, docs_with_dups):
        out = exact_dedup(docs_with_dups).toPandas()
        assert (out.n_docs == 2).sum() == 20  # the injected exact dups
        assert out.n_docs.sum() == docs_with_dups.count()


class TestNgramJaccard:
    def test_matches_python_model(self, spark, docs):
        pdf = docs.limit(60).toPandas()
        got = ngram_jaccard_pairs(
            docs.limit(60), min_jaccard_milli=1, block_col="lang"
        ).toPandas()
        got_pairs = {(r.a_id, r.b_id): r.jac_milli for r in got.itertuples()}
        by_lang = {}
        for r in pdf.itertuples():
            by_lang.setdefault(r.lang, []).append((r.doc_id, r.text))
        expect = {}
        for rows in by_lang.values():
            for i in range(len(rows)):
                for j in range(i + 1, len(rows)):
                    a, b = sorted([rows[i], rows[j]])
                    jm = _py_jaccard(a[1], b[1])
                    if jm >= 1:
                        expect[(a[0], b[0])] = jm
        assert got_pairs == expect

    def test_word_ngrams_edge_cases(self, spark):
        df = spark.createDataFrame([("",), ("a",), ("a b",), ("a b c",), ("a b c d",)], "t string")
        out = df.select(word_ngrams("t", 3).alias("g")).collect()
        assert [len(r.g) for r in out] == [0, 0, 0, 1, 2]


class TestMinhashLSH:
    def test_finds_injected_near_dups(self, docs_with_dups):
        pairs = minhash_lsh_pairs(docs_with_dups, verify_min_jaccard_milli=800).toPandas()
        found = set(map(tuple, pairs[["a_id", "b_id"]].values.tolist()))
        # every exact dup (jaccard 1000) must be found; near dups highly likely
        exact_expected = {(i, i + 10_000) for i in range(20)}
        missing = exact_expected - found
        assert not missing, f"missing exact dups: {missing}"
        # verification step guarantees no false positives below threshold
        assert (pairs.jac_milli >= 800).all()

    def test_verified_jaccard_matches_model(self, docs_with_dups):
        pdf = docs_with_dups.toPandas().set_index("doc_id").text.to_dict()
        pairs = minhash_lsh_pairs(docs_with_dups, verify_min_jaccard_milli=500).toPandas()
        for r in pairs.itertuples():
            assert _py_jaccard(pdf[r.a_id], pdf[r.b_id]) == r.jac_milli

    def test_semijoin_variants_identical(self, docs_with_dups):
        """verify_semijoin False / True / None (auto) must produce the
        exact same verified pairs — the semi-join only prunes which docs
        get re-shingled for verification, never which pairs survive."""
        def key(df):
            p = df.toPandas()
            return sorted(map(tuple, p[["a_id", "b_id", "jac_milli"]].values.tolist()))

        base = key(minhash_lsh_pairs(docs_with_dups, verify_min_jaccard_milli=500,
                                     verify_semijoin=False))
        assert base  # non-empty: the injected dups are present
        assert key(minhash_lsh_pairs(docs_with_dups, verify_min_jaccard_milli=500,
                                     verify_semijoin=True)) == base
        assert key(minhash_lsh_pairs(docs_with_dups, verify_min_jaccard_milli=500,
                                     verify_semijoin=None)) == base


class TestSimhash:
    def test_exact_dups_have_zero_hamming(self, docs_with_dups):
        pairs = simhash_neardup_pairs(docs_with_dups, max_hamming=0).toPandas()
        found = set(map(tuple, pairs[["a_id", "b_id"]].values.tolist()))
        assert {(i, i + 10_000) for i in range(20)} <= found
        assert (pairs.hamming == 0).all()

    def test_near_dups_within_hamming(self, docs_with_dups):
        pairs = simhash_neardup_pairs(docs_with_dups, max_hamming=12).toPandas()
        found = set(map(tuple, pairs[["a_id", "b_id"]].values.tolist()))
        near = {(i, i + 20_000) for i in range(20)}
        # one appended token flips few simhash bits; most near pairs found
        assert len(found & near) >= 15


class TestSimhashKernelEquivalence:
    def test_exploded_aggs_match_column_form(self, docs_with_dups):
        """The scale-path kernel (explode -> 48 codegen'd conditional-sum
        aggs) must be BIT-IDENTICAL to the reference HOF Column form —
        the proof that the r3 performance rewrite changed no values."""
        from zcurve_spark.operators.dedup import simhash_col, simhash_fingerprints

        ref = {
            r.id: r.sh
            for r in docs_with_dups.select(
                F.col("doc_id").alias("id"), simhash_col("text").alias("sh")
            ).collect()
        }
        got = {
            r.id: r.sh for r in simhash_fingerprints(docs_with_dups).collect()
        }
        assert got == ref

    def test_empty_and_single_token_texts(self, spark):
        from zcurve_spark.operators.dedup import simhash_col, simhash_fingerprints

        d = spark.createDataFrame(
            [(1, ""), (2, "one"), (3, "a b"), (4, "  ")], "doc_id long, text string"
        )
        ref = {
            r.id: r.sh
            for r in d.select(
                F.col("doc_id").alias("id"), simhash_col("text").alias("sh")
            ).collect()
        }
        got = {r.id: r.sh for r in simhash_fingerprints(d).collect()}
        assert got == ref


class TestSimhashBandingGuarantee:
    def test_bands_for_derivation(self):
        from zcurve_spark.operators.dedup import simhash_bands_for

        # smallest divisor of 48 strictly greater than the radius
        assert simhash_bands_for(0) == 1
        assert simhash_bands_for(3) == 4
        assert simhash_bands_for(6) == 8
        assert simhash_bands_for(10) == 12
        assert simhash_bands_for(15) == 16
        for h in range(0, 47):
            nb = simhash_bands_for(h)
            assert 48 % nb == 0 and nb > h

    def test_insufficient_bands_rejected(self, docs):
        with pytest.raises(ValueError):
            simhash_neardup_pairs(docs, max_hamming=10, n_bands=4)

    def test_recall_is_complete_at_radius(self, spark, docs_with_dups):
        """The shipped contract: EVERY pair with hamming <= max_hamming is
        returned, however its differing bits spread across bands (the
        round-1 defect: 4 bands silently dropped spreads of 4..10)."""
        from zcurve_spark.operators.dedup import simhash_col

        max_h = 10
        fp = {
            r.id: r.sh
            for r in docs_with_dups.select(
                F.col("doc_id").alias("id"), simhash_col("text").alias("sh")
            ).collect()
        }
        ids = sorted(fp)
        expect = set()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if bin(fp[ids[i]] ^ fp[ids[j]]).count("1") <= max_h:
                    expect.add((ids[i], ids[j]))
        got = simhash_neardup_pairs(docs_with_dups, max_hamming=max_h).toPandas()
        got_pairs = set(map(tuple, got[["a_id", "b_id"]].values.tolist()))
        assert got_pairs == expect

    def test_full64_bit_fingerprints_band_correctly(self, spark):
        """Fingerprints with the sign bit set (>= 2^63, stored as negative
        longs) must band and verify identically — shiftrightunsigned is the
        load-bearing detail."""
        from zcurve_spark.operators.dedup import banded_hamming_pairs

        a = (1 << 63) | 0b1011  # negative as signed long
        b = a ^ (1 << 62) ^ 1   # hamming 2 from a
        c = (1 << 40) - 1       # 40 low bits set: hamming 38 from a
        rows = [(1, a - (1 << 64)), (2, b - (1 << 64)), (3, c)]
        fps = spark.createDataFrame(rows, "id long, fp long")
        got = sorted(
            (r["a_id"], r["b_id"], r["hamming"])
            for r in banded_hamming_pairs(fps, bits=64, max_hamming=4).collect()
        )
        assert got == [(1, 2, 2)]


class TestMinhashShortDocs:
    def test_empty_gram_docs_never_pair(self, spark):
        """Docs with < n tokens have no shingles; they must not collide
        via the sentinel signature (round-1 ADVICE: quadratic skew bucket
        + false positives with verification off)."""
        rows = [(i, "one two") for i in range(40)] + [
            (100, "a proper document with enough tokens to shingle fine"),
            (101, "a proper document with enough tokens to shingle fine"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = minhash_lsh_pairs(d, verify_min_jaccard_milli=None).toPandas()
        got = set(map(tuple, pairs[["a_id", "b_id"]].values.tolist()))
        assert (100, 101) in got
        assert all(a >= 100 and b >= 100 for a, b in got), got


class TestMinhashCheckpoint:
    def test_resume_skips_signature_stage(self, spark, docs, tmp_path):
        """checkpoint=(StageRunner, fp): second run with the same
        fingerprint must reuse the materialized signature stage."""
        import os

        from zcurve_spark.sources.manifest import StageRunner, load_manifest

        sr = StageRunner(spark, str(tmp_path / "dedup_stages"))
        p1 = minhash_lsh_pairs(
            docs, verify_min_jaccard_milli=100, checkpoint=(sr, "fp-a")
        ).count()
        mpath = os.path.join(sr.stage_path("minhash_signatures"), "_zcurve_manifest.json")
        t1 = os.path.getmtime(mpath)
        m1 = load_manifest(sr.stage_path("minhash_signatures"))
        assert m1["total_rows"] > 0
        p2 = minhash_lsh_pairs(
            docs, verify_min_jaccard_milli=100, checkpoint=(sr, "fp-a")
        ).count()
        assert p2 == p1
        assert os.path.getmtime(mpath) == t1  # stage not rebuilt
        # changed fingerprint -> stage rebuilt
        minhash_lsh_pairs(docs, verify_min_jaccard_milli=100, checkpoint=(sr, "fp-b")).count()
        assert os.path.getmtime(mpath) > t1


class TestConnectedComponents:
    def test_known_graph(self, spark):
        from zcurve_spark.operators.dedup import connected_components

        # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 20)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
            "a_id long, b_id long",
        )
        got = {r.id: r.component for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_long_chain_converges(self, spark):
        from zcurve_spark.operators.dedup import connected_components

        n = 12  # diameter 12 > default propagation rounds if unbounded were wrong
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "a_id long, b_id long"
        )
        got = {r.id: r.component for r in connected_components(edges).collect()}
        assert set(got.values()) == {0} and len(got) == n + 1

    def test_deep_chain_converges_in_log_rounds(self, spark):
        """Pointer doubling (r3): a diameter-80 chain must converge in
        ~log2(80)+2 rounds, not 80 (min-label alone needs the full
        eccentricity and would raise here)."""
        from zcurve_spark.operators.dedup import connected_components

        n = 80
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "a_id long, b_id long"
        )
        got = {
            r.id: r.component
            for r in connected_components(edges, max_iter=9).collect()
        }
        assert set(got.values()) == {0} and len(got) == n + 1

    def test_nonconvergence_raises(self, spark):
        """ADVICE r2: exhausting max_iter must raise, never silently
        return partially-propagated labels."""
        import pytest as _pytest

        from zcurve_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(120)], "a_id long, b_id long"
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=2)

