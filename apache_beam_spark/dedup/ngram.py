"""N-gram Jaccard similarity via prefix-filtered inverted index.

Exact Jaccard >= t pairs, PPJoin-style: if J(A,B) >= t, then A and B
must share at least one shingle among the first ``|d| - ceil(t*|d|) + 1``
shingles of each, when both documents order their shingles by one global
canonical order (rarest first).  Candidate generation therefore joins
only PREFIX postings — a tiny fraction of the full inverted index — and
an exact array-intersection verify computes the true Jaccard for the
surviving candidates only.

Versus the naive all-postings self-join, the per-shingle join cost drops
from df^2 on every shingle to prefix-only postings, and rarest-first
ordering makes those postings the shortest ones.  At 100 TB the
shuffles carry (shingle, id) prefix pairs and the verify joins full
shingle arrays only for candidate pairs.

Clone-group discipline (the ``minhash.py``/``knn.py`` rep-collapse
pattern): when the memoized corpus clone probe (``dedup/probe.py``)
finds a flood, documents with IDENTICAL (max_df-pruned) shingle sets
collapse to their min-id representative BEFORE candidate generation,
so a w-wide group of boilerplate clones contributes ONE posting per
prefix shingle instead of w — the prefix self-join and the verify both
run at representative granularity.  Grouping is by the actual sorted
shingle array (not a hash), so the collapse is exact: members share
every Jaccard value their rep has, and within-group pairs are exactly
1.0.  On a clean corpus the direct plan runs; both plans emit the same
pairs.  ``expand="full"`` (the pair CONTRACT) re-expands groups into
every member pair — inherently quadratic because the true answer is;
``expand="star"`` emits one spanning (rep, member) edge per clone
instead — linear output with identical connected components, the
right mode when the consumer is cluster resolution (``dup_clusters``),
not the pair list itself.

Scale controls: ``max_df`` removes ultra-frequent boilerplate shingles
from the universe entirely (consistently — they count in neither the
intersection nor the union); ``max_bucket`` bounds per-task width when
a clone group is re-expanded (``dedup/buckets.bucket_pairs`` — split,
never dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from apache_beam_spark.dedup.buckets import (
    bucket_pairs, expand_rep_pairs, zero_bucket_stats)
from apache_beam_spark.functions.text import shingles
from apache_beam_spark.plans.caching import cache_scoped


def _ranked_postings(df: DataFrame, text_col: str, id_col: str,
                     shingle_k: int, max_df: int):
    """Shared front half of both miners: one row per (doc, surviving
    shingle) with the doc-local rarest-first rank ``rn`` and the doc's
    pruned set size ``n``; ``cache_scoped`` — it feeds candidate
    generation AND verify."""
    from apache_beam_spark.dedup.minhash import _parallelize_narrow

    toks = _parallelize_narrow(df.select(F.col(id_col), F.col(text_col)),
                               weight=8).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    inv = toks.select("id", F.explode("sh").alias("g"))

    # document frequency as a WINDOW count over g, not a groupBy +
    # join-back (optimization r13, guide §1.2): the join shape
    # computed the scan+tokenize+shingle+explode subtree TWICE (once
    # per join side) and at scale moved the postings through a
    # g-exchange twice (sort-merge join); one unordered window count
    # is one pass and one exchange with identical df values.  The
    # single-mega-key worst case is unchanged — AQE cannot split one
    # enormous join key either (guide §2.5) — and max_df prunes such
    # shingles immediately after the count.
    # rarest-first canonical order within each doc; prefix length
    # n - ceil(t*n) + 1 guarantees no J>=t pair is missed
    return cache_scoped(
        inv.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("g")))
        .filter(F.col("df") <= F.lit(max_df))
        .withColumn("rn", F.row_number().over(
            W.partitionBy("id").orderBy(F.col("df"), F.col("g"))))
        .withColumn("n", F.max("rn").over(W.partitionBy("id")))
    )


def _pruned_sets(ranked, sort: bool = False):
    """Per-doc pruned shingle arrays for the verify joins (and, sorted,
    for the rep-collapse window — sorting is only needed there)."""
    arr = F.collect_list("g")
    return ranked.groupBy("id").agg(
        (F.sort_array(arr) if sort else arr).alias("sh"),
        F.first("n").alias("n"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        shingle_k: int = 3, threshold: float = 0.3,
                        max_df: int = 10000, expand: str = "full",
                        max_bucket: int = 10000,
                        observation=None) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs: (id_a, id_b, jaccard).

    ``expand``: ``"full"`` (default) emits every member pair of every
    clone group; ``"star"`` emits spanning edges per clone group —
    linear clone output, identical connected components (see module
    docstring).  Pass an ``Observation`` for the clone-group
    re-expansion's overcap counters (collapse plan, full mode; zeroed
    otherwise).

    The plan comes from the memoized corpus clone probe
    (``dedup/probe.should_collapse``): the collapse plan on a clone
    flood, the direct plan otherwise.  Both produce identical FULL-mode
    output; star mode on the direct plan is the full pair list (a
    superset with the same components — still a valid spanning set
    for CC consumers).
    """
    from apache_beam_spark.dedup.probe import should_collapse

    if expand not in ("full", "star"):
        raise ValueError(f"expand must be 'full' or 'star', got {expand!r}")

    collapse = should_collapse(df, text_col)
    ranked = _ranked_postings(df, text_col, id_col, shingle_k, max_df)
    # direct plan recomputes the per-doc arrays from the cached
    # postings per verify side (cheap agg); the collapse path builds
    # them once, SORTED (the window key must be canonical), and caches
    pruned = (cache_scoped(_pruned_sets(ranked, sort=True))
              if collapse else _pruned_sets(ranked))

    prefix_all = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1
    ).select("id", "g", "rn", "n")

    def positional_filter(x, y):
        """PPJoin positional filter (Xiao et al., WWW 2008): a pair
        meeting at prefix positions (rn_x, rn_y) can share at most
        ``1 + min(n_x - rn_x, n_y - rn_y)`` shingles, while J >= t
        needs ``ceil(t*(n_x+n_y)/(1+t))`` — prune the candidate before
        the verify joins ever see it.  The required-overlap bound is
        LOWERED by 1e-6 before ceil so float error can only admit an
        extra candidate (killed by the exact verify), never drop a
        true pair.  A true pair always survives: at its FIRST common
        canonical shingle every later shared shingle still lies ahead
        on both sides, so that meeting's bound admits the true
        overlap — and one admitting meeting is all a pair needs."""
        ub = 1 + F.least(x("n") - x("rn"), y("n") - y("rn"))
        need = F.ceil(F.lit(threshold / (1.0 + threshold))
                      * (x("n") + y("n")) - F.lit(1e-6))
        return ub >= need

    def verify(cand):
        """Exact jaccard on the (max_df-pruned) shingle sets."""
        return (
            cand
            .join(pruned.select(F.col("id").alias("id_a"), F.col("sh").alias("sha"),
                                F.col("n").alias("na")), on="id_a")
            .join(pruned.select(F.col("id").alias("id_b"), F.col("sh").alias("shb"),
                                F.col("n").alias("nb")), on="id_b")
            .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
            .withColumn("jaccard",
                        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    if not collapse:
        # direct plan: no rep window / semi-join / expansion stages
        cand = (
            prefix_all.alias("x").join(prefix_all.alias("y"), on="g")
            .filter(F.col("x.id") < F.col("y.id"))
            .filter(positional_filter(lambda c: F.col(f"x.{c}"),
                                      lambda c: F.col(f"y.{c}")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        # cache the VERIFIED pair list (optimization r13, guide §1.2):
        # the prefix self-join + verify is the miner's expensive tail,
        # and every consumer that mines the same corpus at the same
        # (k, t, max_df) — e.g. the pair query and the cluster query —
        # builds a semantically identical plan, so one suite-scoped
        # copy serves them all (the ranked-postings precedent, one
        # level up).  Pair rows are id+id+double — tiny vs the corpus.
        # Cached BELOW any observe node: CollectMetrics carries a
        # per-DataFrame id, so a plan containing it never cache-matches
        # a later build's.
        out = cache_scoped(verify(cand))
        if observation is not None:
            # no bucket-expansion stage in this plan: attach the zeroed
            # counters so the telemetry readout stays total (ADVICE r5)
            # — constants, so attaching above the cached verify is
            # equivalent to the old below-verify placement
            out = out.observe(observation, *zero_bucket_stats())
        return out.select("id_a", "id_b",
                          F.round("jaccard", 6).alias("jaccard"))

    # exact clone collapse: rep = min id per identical sorted pruned
    # set (the array itself, not a hash — no collision risk, and the
    # arrays already shuffle for the verify joins)
    rep_map = pruned.select(
        "id", F.min("id").over(W.partitionBy("sh")).alias("rep"))
    reps = rep_map.filter(F.col("id") == F.col("rep")).select("id")

    # rep granularity: one posting per clone group, not w
    prefix = prefix_all.join(reps, on="id", how="left_semi")
    cand = (
        prefix.alias("x").join(prefix.alias("y"), on="g")
        .filter(F.col("x.id") < F.col("y.id"))
        .filter(positional_filter(lambda c: F.col(f"x.{c}"),
                                  lambda c: F.col(f"y.{c}")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # suite-scoped cache of the verified rep-pair list (see the direct
    # path): both expansion modes and every same-parameter consumer
    # read one copy; kept below any observe node (CollectMetrics never
    # cache-matches across builds)
    rep_out = cache_scoped(verify(cand))
    if observation is not None and expand == "star":
        # star never re-expands through bucket_pairs — zeroed counters
        # (constants: placement above the cached verify is equivalent)
        rep_out = rep_out.observe(observation, *zero_bucket_stats())

    # members inherit their rep pair's exact jaccard; within-group
    # and star edges are J = 1.0 (identical sets, no verify needed)
    out = expand_rep_pairs(rep_out, rep_map, expand, max_bucket,
                           observation if expand == "full" else None)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", shingle_k: int = 3,
                            threshold: float = 0.8,
                            max_df: int = 10000) -> DataFrame:
    """Asymmetric containment C(a in b) = |a∩b| / |a| >= threshold:
    detects documents SUBSUMED by larger ones (quote inclusion,
    boilerplate wrapping), which symmetric Jaccard misses whenever the
    big document dwarfs the small one.

    Prefix filtering applies to the CONTAINED side only (if
    |a∩b| >= t|a|, one of a's first ``|a| - ceil(t|a|) + 1`` canonical
    shingles is in b), so candidates join a's prefix postings against
    b's full postings — ``max_df`` caps the hot-posting blowup the
    full side would otherwise drive.  When the memoized clone probe
    (``dedup/probe.should_collapse``) finds a flood, both sides run at
    clone-group representative granularity (identical pruned sets
    share every containment value) and re-expand in both directions;
    otherwise the direct plan runs — identical output either way.
    Output: (id_a, id_b, containment) with a contained in b; both
    directions emitted when both hold (within a clone group, both
    always hold at 1.0).
    """
    from apache_beam_spark.dedup.probe import should_collapse

    collapse = should_collapse(df, text_col)
    ranked = _ranked_postings(df, text_col, id_col, shingle_k, max_df)
    pruned = (cache_scoped(_pruned_sets(ranked, sort=True))
              if collapse else _pruned_sets(ranked))

    def mine(postings):
        """Candidate generation + exact verify over one granularity.
        The candidate join carries the PPJoin positional filter (see
        ``ngram_jaccard_pairs``), asymmetric form: containment >= t
        needs overlap >= ceil(t*n_a), while a pair meeting at ranks
        (rn_a, rn_b) — both over the SAME global rarest-first order —
        can still share at most ``1 + min(n_a - rn_a, n_b - rn_b)``."""
        prefix_a = postings.filter(
            F.col("rn") <= F.col("n") - F.ceil(F.col("n") * F.lit(threshold)) + 1
        ).select("id", "g", "rn", "n")
        ub = 1 + F.least(F.col("x.n") - F.col("x.rn"),
                         F.col("y.n") - F.col("y.rn"))
        need = F.ceil(F.lit(threshold) * F.col("x.n") - F.lit(1e-6))
        cand = (
            prefix_a.alias("x")
            .join(postings.select("id", "g", "rn", "n").alias("y"), on="g")
            .filter(F.col("x.id") != F.col("y.id"))
            .filter(ub >= need)
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        return (
            cand
            .join(pruned.select(F.col("id").alias("id_a"), F.col("sh").alias("sha"),
                                F.col("n").alias("na")), on="id_a")
            .join(pruned.select(F.col("id").alias("id_b"), F.col("sh").alias("shb")),
                  on="id_b")
            .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
            .withColumn("containment", F.col("inter") / F.col("na"))
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment")
        )

    if not collapse:
        return mine(ranked).select(
            "id_a", "id_b", F.round("containment", 6).alias("containment"))

    rep_map = pruned.select(
        "id", F.min("id").over(W.partitionBy("sh")).alias("rep"))
    reps = rep_map.filter(F.col("id") == F.col("rep")).select("id")
    rep_out = mine(ranked.join(reps, on="id", how="left_semi"))

    # re-expand (directed, so no least/greatest): members inherit the
    # rep pair's containment; within a clone group every ORDERED pair
    # holds at exactly 1.0
    ga = rep_map.select(F.col("rep").alias("id_a"), F.col("id").alias("__ma__"))
    gb = rep_map.select(F.col("rep").alias("id_b"), F.col("id").alias("__mb__"))
    cross = (rep_out.join(ga, on="id_a").join(gb, on="id_b")
             .select(F.col("__ma__").alias("id_a"),
                     F.col("__mb__").alias("id_b"), "containment"))
    half = bucket_pairs(rep_map.select(F.col("rep").alias("bk"), "id"),
                        ["bk"], id_col="id")
    within = (half.unionByName(half.select(F.col("id_b").alias("id_a"),
                                           F.col("id_a").alias("id_b")))
              .withColumn("containment", F.lit(1.0)))
    return (cross.unionByName(within)
            .select("id_a", "id_b", F.round("containment", 6).alias("containment")))
