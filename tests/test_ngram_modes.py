"""Clone-group discipline of the n-gram miner (VERDICT r4 item 1):
rep-collapse correctness, full-vs-star component equivalence, and the
scoped-cache lifecycle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    # 3 clone groups (identical texts), one near-dup pair, one loner
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(6):                       # clone group A: ids 0-5
        rows.append((i, base))
    for i in range(6, 10):                   # clone group B: ids 6-9
        rows.append((i, "pack my box with five dozen liquor jugs today"))
    rows.append((10, base + " tonight"))     # near-dup of group A
    rows.append((11, "completely unrelated text about spark shuffles"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_jaccard(rows, k=3, threshold=0.3):
    """Python reference: word-k-shingle Jaccard over distinct shingles
    (max_df large enough to prune nothing)."""
    def sh(t):
        w = t.split()
        return set(tuple(w[i:i + k]) for i in range(len(w) - k + 1))

    sets = {i: sh(t) for i, t in rows}
    out = {}
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            if not sets[a] or not sets[b]:
                continue
            jac = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if jac >= threshold:
                out[(a, b)] = round(jac, 6)
    return out


def _components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_full_mode_matches_python_reference(spark):
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

    df = _docs(spark)
    rows = [(r["doc_id"], r["text"]) for r in df.collect()]
    want = _brute_jaccard(rows)
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-6)


def test_star_mode_same_components_linear_clone_output(spark, pin_plan):
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

    df = _docs(spark)
    nodes = [r["doc_id"] for r in df.select("doc_id").collect()]
    full = [(r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, threshold=0.3).collect()]
    pin_plan(True)
    star = [(r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, threshold=0.3,
                                         expand="star").collect()]
    assert _components(full, nodes) == _components(star, nodes)
    # clone group A (6 members) alone would be 15 full pairs; star emits
    # 5 spanning edges for it — linear in group width
    assert len(star) < len(full)
    # star edges are (rep=min id, member) at exactly 1.0
    star_vals = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(df, threshold=0.3,
                                              expand="star").collect()}
    assert star_vals[(0, 3)] == 1.0
    assert star_vals[(6, 9)] == 1.0


def test_collapse_auto_trips_on_wide_clone_groups(spark, pin_plan,
                                                  monkeypatch):
    """The probe's plan == the pinned direct plan below both thresholds
    (identical full output, no rep stages), == the pinned collapse plan
    past either; a width threshold of 2 trips on the 6-wide group here
    (the fraction trigger is set high to isolate the width one)."""
    from apache_beam_spark.dedup import probe
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

    df = _docs(spark)

    def pairs(**kw):
        return {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(df, threshold=0.3,
                                             **kw).collect()}

    pin_plan(False)
    never = pairs()
    pin_plan(True)
    always = pairs()
    monkeypatch.setattr(probe, "MAX_CLONE_WIDTH", 32)
    monkeypatch.setattr(probe, "CLONE_FRACTION", 0.9)
    auto = pairs()
    assert auto == never == always          # full contract is plan-free
    # star on the untripped probe degrades to the full list — still a
    # valid (superset) spanning set
    star_auto = pairs(expand="star")
    assert star_auto == always
    monkeypatch.setattr(probe, "MAX_CLONE_WIDTH", 2)
    tripped = pairs()
    assert tripped == always


def test_containment_collapse_modes_equal(spark, pin_plan):
    from apache_beam_spark.dedup.ngram import ngram_containment_pairs

    df = _docs(spark)

    def pairs():
        return {(r["id_a"], r["id_b"]): r["containment"]
                for r in ngram_containment_pairs(
                    df, threshold=0.8).collect()}

    outs = [pairs()]
    for collapse in (False, True):
        pin_plan(collapse)
        outs.append(pairs())
    assert outs[0] == outs[1] == outs[2]
    assert outs[0][(0, 3)] == 1.0 and outs[0][(3, 0)] == 1.0  # both dirs


def test_bad_expand_mode_raises(spark):
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

    with pytest.raises(ValueError, match="expand"):
        ngram_jaccard_pairs(_docs(spark), expand="triangle")


def test_scoped_caches_released_after_action(spark):
    """The scope adds persistent RDDs while active and releases exactly
    those ids on exit.  Asserted on the SET DELTA of ids, never on
    counts — counts race Spark's async ContextCleaner reclaiming other
    tests' stale entries (VERDICT r13 item 1)."""
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs
    from apache_beam_spark.plans.caching import (
        persistent_rdd_ids, release_caches, scoped_caches)

    release_caches()  # drain anything earlier tests left registered
    sc = spark.sparkContext
    base_ids = persistent_rdd_ids(sc)
    with scoped_caches():
        ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
        scope_ids = persistent_rdd_ids(sc) - base_ids
        assert scope_ids  # cache in use
    assert not (persistent_rdd_ids(sc) & scope_ids)  # released on exit


def test_llm_corpus_prep_leaves_no_persistent_rdd(spark):
    """Every cache the corpus-prep pipeline takes (the exact-dedup
    survivor set, the CC edge frame) is scoped: building and collecting
    it inside scoped_caches() leaves no new persistent RDD behind."""
    import __spark_entry__ as entry
    from apache_beam_spark.plans.caching import (
        persistent_rdd_ids, release_caches, scoped_caches)

    from tests.conftest import SF_DIR

    release_caches()
    sc = spark.sparkContext
    base_ids = persistent_rdd_ids(sc)
    with scoped_caches():
        entry.queries()["llm_corpus_prep"](spark, SF_DIR).collect()
        assert persistent_rdd_ids(sc) - base_ids  # caches in use
    assert not (persistent_rdd_ids(sc) - base_ids)


def test_release_caches_drains_global_registry(spark):
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs
    from apache_beam_spark.plans.caching import (
        persistent_rdd_ids, release_caches)

    release_caches()
    sc = spark.sparkContext
    base_ids = persistent_rdd_ids(sc)
    ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    new_ids = persistent_rdd_ids(sc) - base_ids
    assert new_ids
    release_caches()
    assert not (persistent_rdd_ids(sc) & new_ids)


def test_positional_filter_in_plan_and_prunes(spark, pin_plan):
    """The PPJoin positional bound must sit in the candidate join of
    BOTH miners (plan-asserted — it is the guard against hot-posting
    blowup on the containment full side, VERDICT r5 item 8), and it
    must prune real candidates while leaving the output identical
    (identity is covered by the mode tests; here we check the pruning
    is live by counting candidates with the bound disabled)."""
    from pyspark.sql import functions as F

    from apache_beam_spark.dedup.ngram import (
        _ranked_postings, ngram_containment_pairs, ngram_jaccard_pairs)

    df = _docs(spark)
    pin_plan(False)
    for out in (ngram_jaccard_pairs(df, threshold=0.5),
                ngram_containment_pairs(df, threshold=0.8)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "least(" in plan and "CEIL(" in plan.upper()

    # pruning is live: pairs that meet in-prefix at a late rank but
    # cannot reach the required overlap must die BEFORE the verify.
    # Five doc pairs each share exactly the 3 shingles around their
    # pair token m{j} (df 2, so ranked after each doc's four unique
    # df-1 shingles); at t=0.3 the prefix (5 of 7) admits one shared
    # shingle per pair, the bound caps overlap at 3 < ceil(14*0.3/1.3)
    # = 4, and indeed true J = 3/11 < 0.3 — so all five candidates are
    # prunable and none is a true pair.
    t = 0.3
    corpus = spark.createDataFrame(
        [(i, f"a{i} b{i} s t m{i // 2} u v c{i} d{i}")
         for i in range(10)], "doc_id long, text string")
    ranked = _ranked_postings(corpus, "text", "doc_id", 3, 10000)
    px = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1)
    base = (px.alias("x").join(px.alias("y"), on="g")
            .filter(F.col("x.id") < F.col("y.id")))
    n_all = base.select("x.id", "y.id").distinct().count()
    ub = 1 + F.least(F.col("x.n") - F.col("x.rn"),
                     F.col("y.n") - F.col("y.rn"))
    need = F.ceil(F.lit(t / (1 + t)) * (F.col("x.n") + F.col("y.n"))
                  - F.lit(1e-6))
    n_kept = base.filter(ub >= need).select("x.id", "y.id") \
        .distinct().count()
    want = {(r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(corpus, threshold=t).collect()}
    assert n_all == 5 and n_kept == 0 and want == set()


def test_scoped_caches_are_thread_local(spark):
    """A scope open in one thread must not capture — or release on
    exit — caches registered by another thread (ADVICE r5): the other
    thread runs outside any scope of its own, so its frame belongs to
    the GLOBAL registry even while the main thread's scope is active."""
    import threading

    from apache_beam_spark.plans.caching import (
        cache_scoped, persistent_rdd_ids, release_caches, scoped_caches)

    release_caches()
    sc = spark.sparkContext
    base_ids = persistent_rdd_ids(sc)
    df = spark.range(100).selectExpr("id", "id * 2 as v")

    def other_thread():
        cache_scoped(df).count()

    with scoped_caches():
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
    # the main thread's scope exit must NOT have unpersisted the other
    # thread's globally-registered cache (set-delta asserts: counts
    # race the async ContextCleaner, VERDICT r13 item 1)
    other_ids = persistent_rdd_ids(sc) - base_ids
    assert other_ids
    release_caches()
    assert not (persistent_rdd_ids(sc) & other_ids)


def test_collapse_auto_trips_on_pervasive_clones(spark, pin_plan):
    """A corpus that is mostly exact copies (width BELOW the width
    threshold) must still trip auto via the clone-fraction trigger —
    the 10x-copies flood shape (SCALING.md round 5)."""
    from pyspark.sql import functions as F

    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs
    from apache_beam_spark.dedup.probe import corpus_clone_stats

    base = _docs(spark).filter(F.col("doc_id").isin(10, 11))  # 2 distinct
    flood = base
    for i in range(1, 5):                     # 5 exact copies of each
        flood = flood.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + 100 * i))
    wmax, frac = corpus_clone_stats(flood, "text")
    assert wmax == 5 and frac > 0.5
    # width 5 <= 32, but fraction 0.8 > 0.05 -> collapse engages:
    # star output is the linear spanning set, not the full clique list
    star = ngram_jaccard_pairs(flood, threshold=0.3, expand="star").collect()
    pin_plan(False)
    full = ngram_jaccard_pairs(flood, threshold=0.3).collect()
    nodes = [r["doc_id"] for r in flood.select("doc_id").collect()]
    assert _components([(r["id_a"], r["id_b"]) for r in star], nodes) == \
        _components([(r["id_a"], r["id_b"]) for r in full], nodes)
    assert len(star) < len(full)
