"""Dedup-ladder properties beyond the driver's oracle check: planted
recall, SimHash hamming behavior, MinHash candidate quality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.operators import dedup


def test_exact_dedup_finds_all_planted(spark, sf_dir):
    out = dedup.dedup_exact(spark, sf_dir).collect()
    from osm_data_classification_spark.io import load_table

    n_planted = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < dedup.N_EXACT)
        .count()
    )
    assert len(out) == n_planted
    for r in out:
        assert r["n_copies"] == 2
        assert r["keep_id"] < dedup.N_EXACT  # canonical id is the original


def test_minhash_recall_of_exact_dups(spark, sf_dir):
    """Exact copies have Jaccard 1.0 — identical signatures in every
    band — so MinHash+LSH must recover ALL of them."""
    pairs = {
        (r["da"], r["db"])
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    docs = {r["doc_id"] for r in dedup.corpus(spark, sf_dir).select("doc_id").collect()}
    expected = {
        (d, d + dedup.EXACT_OFF)
        for d in range(dedup.N_EXACT)
        if d in docs and (d + dedup.EXACT_OFF) in docs
    }
    missing = expected - pairs
    assert not missing, f"LSH missed exact-dup pairs: {missing}"


def test_minhash_candidates_subset_of_jaccard(spark, sf_dir):
    """LSH output ⊆ exhaustive-Jaccard output (same threshold): LSH may
    miss pairs (probabilistic recall) but never invents similarity."""
    lsh = {
        (r["da"], r["db"], r["jaccard_x1000"])
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    full = {
        (r["da"], r["db"], r["jaccard_x1000"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert lsh <= full


def test_simhash_hamming_separates_dups(spark, sf_dir):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.dedup_simhash(spark, sf_dir).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    # exact copies: identical signature
    for d in range(dedup.N_EXACT):
        if d in sig and d + dedup.EXACT_OFF in sig:
            assert sig[d] == sig[d + dedup.EXACT_OFF]
    # near copies (one token dropped): small hamming distance
    near = [
        hamming(sig[d], sig[d + dedup.NEAR_OFF])
        for d in range(dedup.N_NEAR)
        if d in sig and d + dedup.NEAR_OFF in sig
    ]
    assert near and max(near) <= 6
    # unrelated docs: typically far apart
    ids = sorted(k for k in sig if k < dedup.N_NEAR)
    far = [hamming(sig[a], sig[b]) for a, b in zip(ids, ids[1:])]
    assert sum(far) / len(far) > 6


def test_embedding_cosine_planted(spark, sf_dir):
    out = {(r["va"], r["vb"]): r["cos_x1000"] for r in
           dedup.dedup_embedding_cosine(spark, sf_dir).collect()}
    planted = [
        (d, d + dedup.EMB_OFF) for d in range(dedup.N_EMB_DUP) if (d, d + dedup.EMB_OFF) in out
    ]
    assert len(planted) == dedup.N_EMB_DUP
    # identical vectors: cosine 1.0, but the decimal product rounding can
    # floor the x1000 value to 999
    assert all(out[p] >= 999 for p in planted)


@pytest.mark.parametrize("n", [0, 1, 2])
def test_shingles_short_docs(spark, n):
    """Docs shorter than NGRAM tokens produce no shingles (not an error)."""
    df = spark.createDataFrame([(1, " ".join(["w"] * n))], "doc_id long, text string")
    assert dedup.shingles(df).count() == 0


def test_vectorized_shingler_equals_hof(spark, sf_dir):
    """The mapInPandas scale-path shingler produces exactly the rows of
    the higher-order-function version."""
    c = dedup.corpus(spark, sf_dir)
    a = sorted((r["doc_id"], r["shingle"]) for r in dedup.shingles(c).collect())
    b = sorted(
        (r["doc_id"], r["shingle"])
        for r in dedup.shingles_vectorized(c).collect()
    )
    assert a == b


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """The bloom prefilter's load-bearing property: every exact dup is
    a bloom candidate (no false negatives — a prefilter that drops a
    real dup corrupts the corpus), and at the tuned (m=2048, k=3) size
    the sf-scale corpus produces MEASURABLE false positives (the rows
    the exact join must still verify — an fp count of zero would mean
    the test exercises only the trivial path)."""
    from osm_data_classification_spark.operators.dedup import (
        dedup_bloom_prefilter,
    )

    rows = dedup_bloom_prefilter(spark, sf_dir).collect()
    assert rows
    false_neg = [r for r in rows if r["dup_of_existing"] and not r["bloom_candidate"]]
    assert not false_neg
    assert any(r["dup_of_existing"] for r in rows)
    false_pos = [r for r in rows if r["bloom_candidate"] and not r["dup_of_existing"]]
    assert false_pos  # the (m, k) sizing is chosen to exercise this path


def test_containment_catches_inclusions_jaccard_misses(spark, sf_dir):
    """The planted quote docs (first 20 tokens of docs 0..19, id+30000)
    must surface as quote->host containment pairs — and for hosts
    meaningfully longer than the quote, their symmetric Jaccard sits
    far below JACCARD_THRESH, proving the asymmetric operator adds
    coverage the symmetric ladder cannot."""
    from osm_data_classification_spark.operators.dedup import (
        _QUOTE_OFF,
        CATALOG as DEDUP,
        JACCARD_THRESH,
    )

    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keys())
    got = DEDUP["dedup_containment"].fn(spark, sf_dir).collect()
    # the operator leaves no cached data behind (earlier tests' leftovers
    # may be released meanwhile by the context cleaner)
    assert not set(jsc.getPersistentRDDs().keys()) - cached
    quote_pairs = [
        r for r in got if r["da"] >= _QUOTE_OFF and r["db"] < 10_000
    ]
    assert quote_pairs, "no quote->original containment pair found"
    assert all(r["containment_x1000"] >= 900 for r in got)
    # the same quote->host pairs under symmetric Jaccard: docs ~150
    # tokens long vs 20-token quotes -> J ~ 20/150 << threshold
    from osm_data_classification_spark.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    n_tok = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n")
        )
        .filter(F.col("doc_id") < 20)
        .collect()
    }
    long_hosts = [
        r for r in quote_pairs if n_tok.get(r["db"], 0) >= 60
    ]
    assert long_hosts, "corpus has no long host to demonstrate the gap"
    for r in long_hosts:
        # |A| ~ 18 shingles, |B| ~ n_tok-2; J <= |A|/|B| scaled
        j_upper = 1000 * 18 // (n_tok[r["db"]] - 2)
        assert j_upper < JACCARD_THRESH


def test_exact_substring_spans_score_planted_copies(spark, sf_dir):
    """Planted exact copies must score 1000-per-mille duplicated spans;
    near copies (first token dropped) must also fully duplicate — every
    10-token window of the near copy exists verbatim in the original —
    and the originals of planted copies must carry dup spans too."""
    from osm_data_classification_spark.operators.dedup import (
        CATALOG as DEDUP,
        EXACT_OFF,
        N_EXACT,
        NEAR_OFF,
    )

    got = {
        r["doc_id"]: r["dup_frac_x1000"]
        for r in DEDUP["dedup_exact_substring_spans"].fn(spark, sf_dir).collect()
    }
    exact_ids = [EXACT_OFF + i for i in range(N_EXACT)]
    covered = [i for i in exact_ids if i in got]
    assert covered, "no planted exact copy produced spans"
    assert all(got[i] == 1000 for i in covered)
    near_covered = [NEAR_OFF + i for i in range(50) if NEAR_OFF + i in got]
    assert near_covered and all(got[i] == 1000 for i in near_covered)
    # the originals mirror their copies
    assert all(i - EXACT_OFF in got for i in covered)
