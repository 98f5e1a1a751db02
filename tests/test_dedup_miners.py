"""Round-4 bucket-discipline coverage of the text near-dup miners
(dedup/minhash.py, dedup/simhash.py): exact-duplicate collapse and
the no-drop over-cap path must not change WHAT is found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_beam_spark.dedup.minhash import minhash_lsh_dedup, minhash_lsh_pairs
from apache_beam_spark.dedup.simhash import simhash_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_pairs_overcap_identical_group_recovered(spark):
    """A group of > max_bucket IDENTICAL texts yields its FULL pair set
    (est_jaccard 1.0) — the boilerplate content the r3 code silently
    dropped — while unrelated docs contribute nothing."""
    n = 15
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, boiler) for i in range(n)]
    rows += [(100 + i,
              f"completely different text number {i} about topic {i * 7} "
              f"with unique words alpha{i} beta{i} gamma{i} delta{i}")
             for i in range(5)]
    got = minhash_lsh_pairs(_docs(spark, rows), threshold=0.9, max_bucket=4)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in got.collect()}
    want = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert set(pairs) == want                    # nothing dropped, no extras
    assert all(v == 1.0 for v in pairs.values())


def test_minhash_pairs_near_dups_still_found_with_collapse(spark):
    """Non-identical near-dups (distinct signatures) still mine through
    the representative path: the planted pair survives, est >= t."""
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "every single morning before breakfast time")
    rows = [(1, base), (2, base + " extra"),            # near pair
            (3, base), (4, base)]                        # exact dups of 1
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(_docs(spark, rows), threshold=0.5,
                             max_bucket=1000).collect()}
    # exact group {1,3,4} fully paired; near-dup 2 pairs with each member
    assert {(1, 3), (1, 4), (3, 4)} <= got
    assert (1, 2) in got and (2, 3) in got and (2, 4) in got


def test_minhash_dedup_agrees_with_pairs_on_duplicates(spark):
    """Keep-set sanity: every dropped doc shares a pair with some
    smaller kept doc (internal consistency of the two APIs)."""
    boiler = "same words in every copy of this boilerplate paragraph here"
    rows = [(i, boiler) for i in range(6)]
    rows += [(50, "one of a kind document with its own vocabulary")]
    kept = {r["doc_id"] for r in
            minhash_lsh_dedup(_docs(spark, rows)).collect()}
    assert kept == {0, 50}                        # min-id survives per group


def test_simhash_collapse_equals_semantics(spark):
    """The r4 identical-hash collapse must keep the exact
    drop-if-within-hamming-of-smaller-id semantics: duplicates of the
    min doc drop, the min survives, distant docs survive."""
    boiler = ("repeated boilerplate sentence used verbatim across many "
              "documents of the corpus for testing purposes")
    rows = [(i, boiler) for i in range(10)]       # hamming-0 clique
    rows += [(90, "totally unrelated short text about quantum chickens "
                  "and orbital pasta machines in winter")]
    out = simhash_dedup(_docs(spark, rows), max_hamming=3)
    assert {r["doc_id"] for r in out.collect()} == {0, 90}


def test_simhash_keeps_all_when_distant(spark):
    rows = [(1, "alpha bravo charlie delta echo foxtrot golf hotel"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "red orange yellow green blue indigo violet colors")]
    out = simhash_dedup(_docs(spark, rows), max_hamming=1)
    assert out.count() == 3


def test_minhash_pairs_no_cache_over_cache(spark, pin_plan):
    """VERDICT r13 item 6: minhash_lsh_pairs must NOT stack a second
    cache on the (already cache_scoped) signature table — the outer
    cache of a rename projection held a second in-memory copy of ~the
    same (id, sig) rows for the suite's lifetime.  Exactly ONE
    persistent-RDD id may appear per miner build (the signature
    table's), asserted as a set delta (counts race the async
    ContextCleaner, VERDICT r13 item 1)."""
    from apache_beam_spark.plans.caching import (
        persistent_rdd_ids, release_caches, scoped_caches)

    release_caches()
    sc = spark.sparkContext
    base_ids = persistent_rdd_ids(sc)
    rows = [(i, f"some shared boilerplate text plus token {i % 3}")
            for i in range(12)]
    pin_plan(False)
    with scoped_caches():
        minhash_lsh_pairs(_docs(spark, rows), threshold=0.2).collect()
        new = persistent_rdd_ids(sc) - base_ids
        assert len(new) == 1, new   # signature cache only, no outer copy
