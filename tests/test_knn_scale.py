"""Scale-path regressions for the ANN module (VERDICT r1 items 2+3):

- embedding_near_dup_pairs must generate candidates via banded LSH
  (no cross join in the plan) and still find every planted near-dup.
- brute_force_topk_blas's streaming mode (corpus streams, per-partition
  top-k + exact merge; chosen when the corpus exceeds
  ``max_broadcast_bytes``) must equal the corpus-broadcast mode on a
  multi-partition corpus.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from apache_beam_spark.plans import plan_string
from apache_beam_spark.similarity.knn import (
    brute_force_topk,
    brute_force_topk_blas,
    embedding_near_dup_pairs,
)


@pytest.fixture(scope="module")
def emb_df(spark):
    """120 random 16-dim vectors + 10 planted near-dup partners."""
    rng = np.random.RandomState(7)
    base = rng.standard_normal((120, 16))
    rows = [(i, base[i].tolist()) for i in range(120)]
    for j in range(10):  # ids 200+j are tiny perturbations of j
        noisy = base[j] + 0.05 * rng.standard_normal(16)
        rows.append((200 + j, noisy.tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .repartition(5)


def _exact_pairs(df, threshold):
    from apache_beam_spark.functions.vectors import cosine

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va__"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb__"))
    return (a.crossJoin(F.broadcast(b))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(cosine(F.col("__va__"), F.col("__vb__")), 6).alias("sim"))
            .filter(F.col("sim") >= threshold))


def test_near_dup_lsh_matches_exact(spark, emb_df):
    got = sorted((r["id_a"], r["id_b"], r["sim"])
                 for r in embedding_near_dup_pairs(emb_df, threshold=0.9).collect())
    want = sorted((r["id_a"], r["id_b"], r["sim"])
                  for r in _exact_pairs(emb_df, 0.9).collect())
    assert len(want) >= 10          # the planted pairs exist
    assert got == want


def test_near_dup_plan_has_no_cross_join(spark, emb_df):
    plan = plan_string(embedding_near_dup_pairs(emb_df, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_group_col_mines_within_group_only(spark, emb_df):
    """group_col folds the group into the bucket key: within-group
    near-dup pairs are found, cross-group pairs are excluded — the
    SemDeDup in-cell shape (VERDICT r2 item 1)."""
    # everyone in group 0 except the planted partners (200+j), which
    # land in group 1 — so every planted pair becomes cross-group
    split = emb_df.withColumn(
        "cell", (F.col("vec_id") >= 200).cast("int"))
    cross = embedding_near_dup_pairs(
        split, threshold=0.9, group_col="cell", vec_col="embedding")
    assert cross.count() == 0
    # same group for all -> identical to the ungrouped result
    same = split.withColumn("cell", F.lit(0))
    got = sorted((r["id_a"], r["id_b"], r["sim"])
                 for r in embedding_near_dup_pairs(
                     same, threshold=0.9, group_col="cell").collect())
    want = sorted((r["id_a"], r["id_b"], r["sim"])
                  for r in _exact_pairs(emb_df, 0.9).collect())
    assert got == want and len(got) >= 10


def test_near_dup_overcap_group_recovered_in_full(spark):
    """VERDICT r3 item 1 (flipped from the r3 pin): a degenerate group
    of > max_bucket IDENTICAL vectors must still yield its full pair
    set — over-cap buckets are exact-collapsed + triangle-split, never
    silently dropped.  The most-duplicated content is exactly what
    dedup exists to catch."""
    n = 40
    rows = [(i, [1.0] * 8, 0) for i in range(n)]        # one hot cell
    rows += [(100, [1.0, -1.0] * 4, 1), (101, [1.0, -1.0] * 4, 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int")
    got = embedding_near_dup_pairs(
        df, threshold=0.9, group_col="cell", max_bucket=10,
        band_bits=8, n_bands=16)
    want = [(a, b) for a in range(n) for b in range(a + 1, n)] + [(100, 101)]
    assert sorted(map(tuple, got.select("id_a", "id_b").collect())) == want


def test_near_dup_overcap_distinct_vectors_recovered(spark):
    """Over-cap buckets of DISTINCT near-dup vectors exercise the
    chunked triangle path (no exact collapse possible): every pair the
    exact O(n^2) join finds is recovered, bit-for-bit sims included."""
    rng = np.random.RandomState(3)
    base = rng.standard_normal(16)
    rows = [(i, (base + 0.01 * rng.standard_normal(16)).tolist())
            for i in range(30)]                          # 30 mutual near-dups
    rows += [(200 + i, rng.standard_normal(16).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted((r["id_a"], r["id_b"], r["sim"])
                 for r in embedding_near_dup_pairs(
                     df, threshold=0.9, max_bucket=8,
                     band_bits=8, n_bands=24).collect())
    want = sorted((r["id_a"], r["id_b"], r["sim"])
                  for r in _exact_pairs(df, 0.9).collect())
    assert len(want) >= 400      # the 30-clique alone is 435 pairs
    assert got == want


def test_near_dup_overcap_observation_metrics(spark):
    """The observe() counters surface what the old code silently
    dropped: overcap_buckets > 0 when a bucket exceeds the cap."""
    from pyspark.sql import Observation

    rng = np.random.RandomState(5)
    base = rng.standard_normal(16)
    rows = [(i, (base + 0.01 * rng.standard_normal(16)).tolist())
            for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    obs = Observation("lsh")
    out = embedding_near_dup_pairs(df, threshold=0.9, max_bucket=5,
                                   band_bits=8, n_bands=8, observation=obs)
    assert out.count() == 300    # full 25-clique
    m = obs.get
    assert m["overcap_buckets"] > 0
    assert m["max_bucket_width"] >= 25
    assert m["n_buckets"] >= m["overcap_buckets"]


def test_near_dup_star_mode_same_components_linear_output(spark):
    """expand='star' (the cluster-resolution mode semantic_dedup uses):
    one spanning edge per duplicate instead of the quadratic member
    pair set — identical connected components, w-1 instead of
    C(w,2) within-group rows."""
    from apache_beam_spark.dedup.components import connected_components

    n = 20
    rows = [(i, [1.0, 2.0] * 4) for i in range(n)]       # exact-dup group
    rows += [(100, [1.0, -1.0] * 4), (101, [1.0, -1.0] * 4)]
    rows += [(200 + i, np.random.RandomState(i).standard_normal(8).tolist())
             for i in range(10)]                          # noise
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    full = embedding_near_dup_pairs(df, threshold=0.9, max_bucket=5,
                                    band_bits=8, n_bands=16)
    star = embedding_near_dup_pairs(df, threshold=0.9, max_bucket=5,
                                    band_bits=8, n_bands=16, expand="star")
    n_full, n_star = full.count(), star.count()
    assert n_full == n * (n - 1) // 2 + 1                 # quadratic truth
    assert n_star == (n - 1) + 1                          # linear spanning set
    ids = df.select("vec_id")
    comp_f = {(r["node"], r["comp"]) for r in connected_components(
        full.select("id_a", "id_b"), "id_a", "id_b", nodes=ids).collect()}
    comp_s = {(r["node"], r["comp"]) for r in connected_components(
        star.select("id_a", "id_b"), "id_a", "id_b", nodes=ids).collect()}
    assert comp_f == comp_s

    import pytest as _pytest
    with _pytest.raises(ValueError, match="expand"):
        embedding_near_dup_pairs(df, expand="bogus")


def test_auto_band_geometry_scales_with_corpus():
    """band_bits keeps expected occupancy ~constant (grows with log N);
    n_bands compensates so P(miss) stays <= 1e-4 at the threshold."""
    from apache_beam_spark.similarity.knn import auto_band_bits, auto_n_bands

    assert auto_band_bits(1000) == 8                 # floor
    assert auto_band_bits(2_000_000) == 18
    assert auto_band_bits(2_000_000_000) == 24       # cap
    # occupancy n / 2^bits stays in [4, 16] between floor and cap
    for n in [10_000, 100_000, 1_000_000, 10_000_000]:
        occ = n / (1 << auto_band_bits(n))
        assert 2 <= occ <= 16
    # wider bands -> more bands; the miss bound holds until the work
    # cap (hi=64) engages, which trades a bounded recall dip for
    # bounded band count at extreme widths
    import math
    for bits in [8, 12, 16]:
        bands = auto_n_bands(0.95, bits)
        assert bands < 64
        p = 1 - math.acos(0.95) / math.pi
        assert (1 - p ** bits) ** bands <= 1e-4
    assert auto_n_bands(0.95, 20) == 64              # cap engages
    assert auto_n_bands(0.95, 16) > auto_n_bands(0.95, 8)


def test_semantic_dedup_plan_no_cell_cartesian(spark, emb_df):
    """semantic_dedup's pair mining must not contain a raw all-pairs
    join keyed only on the cell id (the r2 quadratic shape): the
    grouped miner's plan has no cartesian/BNL join and carries the
    max_bucket size filter (bounded in-cell pair width); the full
    query plan (post components) stays cartesian-free too."""
    import __spark_entry__ as entry

    grouped = embedding_near_dup_pairs(
        emb_df.withColumn("cell", (F.col("vec_id") % 4).cast("int")),
        threshold=0.9, group_col="cell", max_bucket=10000)
    miner_plan = plan_string(grouped)
    assert "CartesianProduct" not in miner_plan
    assert "BroadcastNestedLoopJoin" not in miner_plan
    # the max_bucket size filter proves banded-bucket mining is live
    assert "size(ids" in miner_plan

    df = entry.queries()["semantic_dedup"](spark, "/root/testdata/sf0.001")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blas_queries_broadcast_equals_corpus_broadcast(spark, emb_df):
    from apache_beam_spark.similarity.knn import (
        _choose_broadcast_side, _plan_size_bytes)

    q = emb_df.filter(F.col("vec_id") < 20)
    # the size statistic picks the mode: a cap the corpus fits
    # broadcasts it, a cap one byte smaller streams it
    est = _plan_size_bytes(emb_df)
    assert _choose_broadcast_side(emb_df, est) == "corpus"
    assert _choose_broadcast_side(emb_df, est - 1) == "queries"
    a = brute_force_topk_blas(q, emb_df, k=3, max_broadcast_bytes=est)
    b = brute_force_topk_blas(q, emb_df, k=3, max_broadcast_bytes=est - 1)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b
    # and both equal the Column-HOF reference implementation
    ref = sorted(map(tuple, brute_force_topk(q, emb_df, k=3).collect()))
    assert rows_a == ref


def test_blas_auto_stat_missing_falls_back_to_streaming(spark, emb_df,
                                                        monkeypatch):
    """VERDICT r3 item 7: when Catalyst's size stat is unavailable,
    auto mode must fail SAFE to the corpus-streaming side (a blind
    collect+broadcast is the one choice that can OOM the driver)."""
    import apache_beam_spark.similarity.knn as knn

    monkeypatch.setattr(knn, "_plan_size_bytes", lambda df: None)
    assert knn._choose_broadcast_side(
        emb_df, max_broadcast_bytes=1 << 60) == "queries"
    # and the full call still returns exact results via that mode
    q = emb_df.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple,
                     knn.brute_force_topk_blas(q, emb_df, k=3).collect()))
    assert got == sorted(map(tuple, brute_force_topk(q, emb_df, k=3).collect()))


def test_blas_auto_picks_mode_by_size(spark, emb_df):
    """VERDICT r2 item 7: the default mode comes from Catalyst's size
    estimate, not the caller's flag — a corpus over the broadcast cap
    auto-selects the streaming (queries-broadcast) path, a small one
    the corpus-broadcast path, and auto's results match the exact
    reference either way."""
    from apache_beam_spark.similarity.knn import (
        _choose_broadcast_side, _plan_size_bytes)

    est = _plan_size_bytes(emb_df)
    assert est is not None and est > 0
    assert _choose_broadcast_side(emb_df, max_broadcast_bytes=est + 1) == "corpus"
    assert _choose_broadcast_side(emb_df, max_broadcast_bytes=est - 1) == "queries"

    q = emb_df.filter(F.col("vec_id") < 10)
    forced_stream = brute_force_topk_blas(
        q, emb_df, k=3, max_broadcast_bytes=1)  # auto -> queries mode
    ref = sorted(map(tuple, brute_force_topk(q, emb_df, k=3).collect()))
    assert sorted(map(tuple, forced_stream.collect())) == ref


def test_pair_cosine_bitwise_matches_hof(spark):
    """pair_cosine (the vectorized rerank path) must be BIT-IDENTICAL
    to the interpreted functions.vectors.cosine HOF it replaced —
    float32 inputs through the numpy fast path.  The clean rows run in
    their OWN DataFrame (ADVICE r13: mixed in with the null/ragged
    rows, a 1-partition run delivered ONE Arrow batch, the None row
    poisoned np.array, and the whole batch silently took the per-row
    fallback — the fast path was never exercised)."""
    import math

    from apache_beam_spark.functions.vectors import cosine
    from apache_beam_spark.similarity.knn import pair_cosine

    rng = np.random.RandomState(11)
    rows = []
    for i in range(300):
        a = rng.standard_normal(64).astype(np.float32).tolist()
        b = rng.standard_normal(64).astype(np.float32).tolist()
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows, "pid long, va array<float>, vb array<float>")

    hof = {r["pid"]: r["sim"] for r in df.select(
        "pid", cosine(F.col("va"), F.col("vb")).alias("sim")).collect()}
    vec = {r["pid"]: r["sim"] for r in
           pair_cosine(df, "va", "vb").collect()}

    assert set(hof) == set(vec)
    for pid, h in hof.items():
        v = vec[pid]
        assert h is not None and v is not None, pid
        assert not (math.isnan(h) or math.isnan(v)), pid
        # bit-for-bit, not approx
        assert h == v and math.copysign(1, h) == math.copysign(1, v), \
            (pid, h.hex(), v.hex())


def test_pair_cosine_corner_rows(spark):
    """The fallback/masking contract, pinned row by row (see the
    pair_cosine docstring): null array -> null, ragged -> null, a
    NaN or null ELEMENT -> null sim (ADVICE r13: Arrow delivers null
    elements as NaN; unmasked they became NaN sims that sort ABOVE
    every real double under sim.desc(), promoting corrupt vectors
    into top-k), and a zero vector -> null.  The HOF masks NaN
    quotients and divides with try_divide, so the element rows and
    the zero-vector row MATCH it (under ANSI a plain divide raised
    DIVIDE_BY_ZERO on the zero vector)."""
    from apache_beam_spark.functions.vectors import cosine
    from apache_beam_spark.similarity.knn import pair_cosine

    rows = [
        (901, None, [1.0] * 8),                      # null array
        (902, [1.0] * 8, [1.0, 2.0]),                # ragged
        (903, [float("nan"), 1.0], [1.0, 1.0]),      # NaN element
        (904, [None, 1.0], [1.0, 1.0]),              # null element
        (905, [1.0, 2.0], [2.0, 4.0]),               # clean control
        (906, [0.0, 0.0], [1.0, 2.0]),               # zero vector
    ]
    df = spark.createDataFrame(
        rows, "pid long, va array<double>, vb array<double>")
    vec = {r["pid"]: r["sim"] for r in
           pair_cosine(df, "va", "vb").collect()}
    assert vec[901] is None and vec[902] is None
    assert vec[903] is None and vec[904] is None
    assert vec[905] is not None and abs(vec[905] - 1.0) < 1e-12
    assert vec[906] is None
    # the HOF agrees on both element rows and the zero vector: null,
    # never NaN or an error
    hof = {r["pid"]: r["sim"] for r in
           df.filter("pid in (903, 904, 905, 906)")
           .select("pid", cosine(F.col("va"), F.col("vb")).alias("sim"))
           .collect()}
    assert hof[903] is None and hof[904] is None and hof[906] is None
    assert hof[905] == vec[905]
    # a NaN-ELEMENT row must also mask when it rides the per-row
    # fallback (batched with a ragged row) — same mask, both paths
    vec2 = {r["pid"]: r["sim"] for r in pair_cosine(
        df.filter("pid in (902, 903)").coalesce(1), "va", "vb").collect()}
    assert vec2[902] is None and vec2[903] is None


def test_cosine_pairs_chooser_both_branches(spark):
    """cosine_pairs (VERDICT r13 item 8: the ONE guarded call site) —
    below PAIR_COSINE_MIN_EST_PAIRS it plans the pure-JVM HOF (no
    Python node), at/above it the Arrow pair_cosine, and both branches
    return bit-identical sims."""
    import math

    from apache_beam_spark.similarity.knn import (
        PAIR_COSINE_MIN_EST_PAIRS, cosine_pairs)

    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(16).tolist(),
             rng.standard_normal(16).tolist()) for i in range(50)]
    df = spark.createDataFrame(
        rows, "pid long, va array<double>, vb array<double>")

    low = cosine_pairs(df, "va", "vb", est_pairs=1.0)
    high = cosine_pairs(df, "va", "vb",
                        est_pairs=float(PAIR_COSINE_MIN_EST_PAIRS))
    unknown = cosine_pairs(df, "va", "vb", est_pairs=None)

    for branch, want_python in ((low, False), (high, True),
                                (unknown, False)):
        plan = branch._jdf.queryExecution().executedPlan().toString()
        has_python = ("ArrowEvalPython" in plan or "MapInPandas" in plan
                      or "BatchEvalPython" in plan)
        assert has_python == want_python, plan[:400]
        assert branch.columns == ["pid", "sim"]

    got_low = {r["pid"]: r["sim"] for r in low.collect()}
    got_high = {r["pid"]: r["sim"] for r in high.collect()}
    for pid in got_low:
        h, v = got_low[pid], got_high[pid]
        assert h == v and math.copysign(1, h) == math.copysign(1, v), pid


@pytest.mark.parametrize("branch", ["hof", "arrow"])
def test_nan_vector_yields_no_near_dup_pair(spark, monkeypatch, branch):
    """A vector with a NaN element has NaN sign bits on every plane, so
    it lands in the all-zero bucket of every band next to any other
    such vector; its cosine must be null on BOTH verify branches (NaN
    passes ``sim >= threshold``), so no pair carries it."""
    from apache_beam_spark.similarity import knn

    monkeypatch.setattr(knn, "PAIR_COSINE_MIN_EST_PAIRS",
                        float("inf") if branch == "hof" else 0)
    rng = np.random.RandomState(13)
    base = rng.standard_normal((20, 16))
    rows = [(i, base[i].tolist()) for i in range(20)]
    rows.append((100, (base[0] + 0.01).tolist()))          # real near-dup
    for vid, src, pos in ((300, 1, 3), (301, 2, 5)):
        v = base[src].copy()
        v[pos] = float("nan")
        rows.append((vid, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dup_pairs(df, threshold=0.95).collect()}
    assert got == {(0, 100)}


def test_lsh_topk_never_ranks_nan_vector(spark):
    """NaN-element corpus vectors share the all-zero bucket with every
    clean query whose sign bit is 0; their null cosine sorts after every
    real neighbor, so with at least k clean candidates per bucket they
    never make a top-k."""
    from apache_beam_spark.similarity.knn import lsh_topk

    rng = np.random.RandomState(17)
    base = rng.standard_normal((60, 16))
    rows = [(i, base[i].tolist()) for i in range(60)]
    for j in range(3):
        v = base[j].copy()
        v[j] = float("nan")
        rows.append((500 + j, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_topk(df.filter(F.col("vec_id") < 60), df, dim=16, k=3,
                   n_bits=1).collect()
    assert len(out) == 60 * 3
    assert not [r for r in out if r["neighbor_id"] >= 500]


def test_embed_near_dup_warm_build_submits_no_job(spark):
    """Every plan choice of embedding_near_dup_pairs comes from its
    memoized (rows, distinct) probe: once a build has run it, building
    the query again submits no Spark job."""
    import __spark_entry__ as entry
    from apache_beam_spark.plans.caching import scoped_caches

    from tests.conftest import SF_DIR

    build = entry.queries()["embed_near_dup"]
    sc = spark.sparkContext
    group = "embed-near-dup-warm-build"
    with scoped_caches():
        build(spark, SF_DIR)
        sc.setJobGroup(group, "embed_near_dup warm build")
        try:
            build(spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
