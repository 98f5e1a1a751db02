"""Corpus-level clone probe (dedup/probe.py): memoization contract,
token-stream normalization, and the shared-family wiring that fixed
the r5 clean-corpus probe tax (VERDICT r5 finding 1)."""

from __future__ import annotations


def test_stats_detect_whitespace_case_variants(spark):
    """The probe keys on the token stream, so whitespace / case /
    punctuation variants of one boilerplate group together — the crawl
    flood shape the collapse machinery exists for."""
    from apache_beam_spark.dedup.probe import clear_probe_memo, corpus_clone_stats

    clear_probe_memo()
    df = spark.createDataFrame(
        [(0, "Hello,   World! again"),
         (1, "hello world AGAIN"),
         (2, "hello\tworld again."),
         (3, "something else entirely")],
        "doc_id long, text string")
    wmax, frac = corpus_clone_stats(df, "text")
    assert wmax == 3
    assert abs(frac - 0.5) < 1e-9  # 2 non-rep clones / 4 docs


def test_probe_memoizes_per_plan(spark, monkeypatch):
    """Second call over the same logical plan must not recompute — the
    whole point: one probe job serves the ngram/minhash/simhash family."""
    from apache_beam_spark.dedup import probe

    probe.clear_probe_memo()
    df = spark.createDataFrame([(0, "a b c"), (1, "a b c")],
                               "doc_id long, text string")
    first = probe.corpus_clone_stats(df, "text")
    assert first == (2, 0.5)

    def boom(col):
        raise AssertionError("probe recomputed despite memo hit")

    monkeypatch.setattr(probe, "word_tokens", boom)
    assert probe.corpus_clone_stats(df, "text") == first


def test_clear_probe_memo_forces_recompute(spark):
    from apache_beam_spark.dedup import probe

    probe.clear_probe_memo()
    df = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    assert probe.corpus_clone_stats(df, "text") == (1, 0.0)
    assert probe._MEMO
    probe.clear_probe_memo()
    assert not probe._MEMO


def test_should_collapse_thresholds(spark, monkeypatch):
    from apache_beam_spark.dedup import probe

    probe.clear_probe_memo()
    rows = [(i, "copy me please now") for i in range(10)] + \
        [(100 + i, f"unique text number {i} entirely") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # wmax 10, frac 9/20 = 0.45: trips width at 8, not at 32 w/ frac 0.5
    for width, frac, want in ((8, 0.9, True), (32, 0.5, False),
                              (32, 0.4, True)):
        monkeypatch.setattr(probe, "MAX_CLONE_WIDTH", width)
        monkeypatch.setattr(probe, "CLONE_FRACTION", frac)
        assert probe.should_collapse(df, "text") is want


def test_default_policy_keeps_sparse_clones_direct(spark):
    """The shipped constants: sparse narrow clone groups (the fixture
    corpora's shape) stay on the direct plan; a 10x-copies flood trips
    the fraction trigger."""
    from apache_beam_spark.dedup import probe

    probe.clear_probe_memo()
    sparse = spark.createDataFrame(
        [(i, f"document {i} text") for i in range(40)]
        + [(99, "document 0 text")],
        "doc_id long, text string")
    assert not probe.should_collapse(sparse, "text")
    flood = spark.createDataFrame(
        [(10 * i + c, f"document {i} text")
         for i in range(4) for c in range(10)],
        "doc_id long, text string")
    assert probe.should_collapse(flood, "text")


def test_empty_corpus_never_collapses(spark):
    from apache_beam_spark.dedup.probe import clear_probe_memo, corpus_clone_stats

    clear_probe_memo()
    df = spark.createDataFrame([], "doc_id long, text string")
    assert corpus_clone_stats(df, "text") == (1, 0.0)


def test_family_shares_one_probe_entry(spark):
    """ngram + containment + simhash + minhash over the SAME corpus
    frame must land on ONE memo entry (same (plan, kind) key)."""
    from apache_beam_spark.dedup import probe
    from apache_beam_spark.dedup.minhash import minhash_lsh_pairs
    from apache_beam_spark.dedup.ngram import (
        ngram_containment_pairs, ngram_jaccard_pairs)
    from apache_beam_spark.dedup.simhash import simhash_dedup
    from apache_beam_spark.plans.caching import scoped_caches

    probe.clear_probe_memo()
    df = spark.createDataFrame(
        [(i, f"some document text number {i} with words") for i in range(8)],
        "doc_id long, text string")
    with scoped_caches():
        ngram_jaccard_pairs(df, threshold=0.5).collect()
        ngram_containment_pairs(df, threshold=0.8).collect()
        simhash_dedup(df).collect()
        minhash_lsh_pairs(df, threshold=0.5).collect()
    clone_keys = [k for k in probe._MEMO if k[1] == "__clones__"]
    assert len(clone_keys) == 1
