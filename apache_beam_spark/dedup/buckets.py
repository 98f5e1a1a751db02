"""Shared LSH bucket-pair discipline (VERDICT r3 item 1).

Every banded-LSH miner (sign-LSH near-dup, MinHash bands, semantic
dedup cells) reduces to the same step: given rows of
``(bucket_key..., id)``, emit every ``(id_a < id_b)`` pair that
co-occurs in a bucket.  The naive ``collect_list`` + double-``explode``
breaks down on degenerate buckets (boilerplate-heavy corpora): one
giant bucket becomes one giant row and one task doing O(w^2) work — or,
worse, gets **silently dropped** by a width cap, skipping exactly the
most-duplicated content dedup exists to catch.

``bucket_pairs`` keeps the cheap path for healthy buckets and routes
over-cap buckets through a *chunked triangle expansion* — the salted
sub-split shape of ``ivf_topk``'s ``max_cell`` (knn.py:344) applied to
self-pairing:

1. the bucket's ids are sorted and cut into ``ceil(w/max_bucket)``
   chunks of at most ``max_bucket`` ids;
2. each (chunk_i, chunk_j) pair with ``i <= j`` becomes its own row
   (ids ordered across chunks, so ``id_a < id_b`` still canonicalizes);
3. those chunk-pair rows are hash-REPARTITIONED before the final
   pair explode, so the O(w^2) candidate work spreads over
   ~``(w/max_bucket)^2 / 2`` tasks instead of one.

Nothing is dropped; per-task memory stays O(max_bucket) ids; the only
lasting per-row cost is the bucket's id array (8 bytes/id) in the
aggregation — bound THAT by collapsing exact duplicates before
bucketing (see ``embedding_near_dup_pairs``'s rep collapse).

Reference anchor: candidate-pair generation in LSH dedup pipelines —
semantics per the public MinHash/LSH literature (Broder; Leskovec et
al., "Mining of Massive Datasets" ch.3); the no-silent-drop contract is
this repo's own (oracle parity requires the full candidate set).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # Observation exists on every supported Spark, but keep soft
    from pyspark.sql import Observation
except ImportError:  # pragma: no cover
    Observation = None  # type: ignore


def bucket_stats_aggs(max_bucket: int) -> list:
    """The ``observe()`` aggregates ``bucket_pairs`` attaches: how many
    buckets there are, how many exceeded the cap (and were triangle-
    split, NOT dropped), and the widest bucket seen."""
    w = F.size("ids")
    return [
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((w > max_bucket).cast("long")).alias("overcap_buckets"),
        F.sum(F.when(w > max_bucket, (w.cast("long") * (w - 1)) / 2)
              .otherwise(F.lit(0))).alias("overcap_candidates"),
        F.max(w).alias("max_bucket_width"),
    ]


def zero_bucket_stats() -> list:
    """Zeroed analogues of ``bucket_stats_aggs`` for plans that carry
    no bucket-expansion stage (a miner's direct or star path): the
    ``LAST_OBSERVATIONS[name].get`` readout (RUNBOOK "Reading the LSH
    bucket telemetry") then reports all-zero counters instead of
    raising NO_OBSERVE_BEFORE_GET when the clone probe keeps the
    collapse machinery off a healthy corpus (ADVICE r5 item 1)."""

    def zero(alias, typ="long"):
        lit = F.lit(0).cast(typ)
        return F.coalesce(F.max(lit), lit).alias(alias)

    return [zero("n_buckets"), zero("overcap_buckets"),
            zero("overcap_candidates", "double"),
            zero("max_bucket_width", "int")]


def bucket_pairs(members: DataFrame, bucket_keys: Sequence[str],
                 id_col: str = "id", max_bucket: int = 10000,
                 observation: Optional["Observation"] = None) -> DataFrame:
    """All distinct ``(id_a < id_b)`` id pairs co-occurring in any
    bucket.  ``members``: one row per (bucket, id) occurrence;
    duplicate occurrences collapse (``collect_set``).

    Buckets of width <= ``max_bucket`` pair via in-row explode (no
    join, one shuffle); wider buckets via the chunked triangle
    expansion described in the module docstring — bounded per-task
    width, nothing dropped.  Pass an ``Observation`` to receive
    ``n_buckets`` / ``overcap_buckets`` / ``overcap_candidates`` /
    ``max_bucket_width`` after the first action.
    """
    if max_bucket < 2:
        raise ValueError("max_bucket must be >= 2")
    keys = list(bucket_keys)
    buckets = (
        members.groupBy(*keys)
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if observation is not None:
        buckets = buckets.observe(observation, *bucket_stats_aggs(max_bucket))

    small = (
        buckets.filter(F.size("ids") <= max_bucket)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )

    # over-cap: sort ids, cut into chunks, pair chunks (i <= j),
    # REPARTITION the chunk pairs, then explode — O(max_bucket) ids per
    # row at every step past the cut, O(w^2/max_bucket^2) tasks
    big = buckets.filter(F.size("ids") > max_bucket).select(
        *keys, F.array_sort("ids").alias("__s__"))
    chunks = F.transform(
        F.sequence(F.lit(0),
                   F.floor((F.size("__s__") - 1) / F.lit(max_bucket)).cast("int")),
        lambda i: F.slice("__s__", i * max_bucket + 1, max_bucket))
    big_pairs = (
        big.select(*keys, chunks.alias("__chunks__"))
        .select(*keys, "__chunks__",
                F.posexplode("__chunks__").alias("__ci__", "__ca__"))
        # own chunk + every later one (ids ordered across chunks)
        .select(*keys, "__ci__", "__ca__",
                F.slice("__chunks__", F.col("__ci__") + 1, 1 << 30).alias("__r__"))
        .select(*keys, "__ci__", "__ca__",
                F.posexplode("__r__").alias("__cj__", "__cb__"))
        .repartition(*([F.col(k) for k in keys]
                       + [F.col("__ci__"), F.col("__cj__")]))
        .select(F.explode("__ca__").alias("id_a"), "__cb__")
        .select("id_a", F.explode("__cb__").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return small.unionByName(big_pairs).distinct()


def expand_rep_pairs(rep_pairs: DataFrame, rep_map: DataFrame,
                     expand: str = "full", max_bucket: int = 10000,
                     observation: Optional["Observation"] = None) -> DataFrame:
    """Re-expand ``(id_a < id_b, *sims)`` pairs mined at clone-group
    representative granularity back to member granularity — the
    collapse plan's last step, shared by every miner whose pairs are
    symmetric.  ``rep_map``: one ``(id, rep)`` row per member, ``rep``
    the group's min id (a rep maps to itself).

    * ``"full"``: every member pair.  Cross-group pairs inherit their
      rep pair's sims (groups are disjoint, so no pair repeats);
      within-group pairs come from ``bucket_pairs`` over the rep key
      (no-drop chunked triangles; ``observation`` attaches there).
    * ``"star"``: the rep pairs plus one ``(rep, member)`` spanning
      edge per non-rep member — linear output, identical connected
      components.

    Any sim column rides through the rep pairs unchanged and is 1.0 on
    within-group and star edges (clones are identical)."""
    sims = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    ones = [F.lit(1.0).alias(c) for c in sims]
    if expand == "star":
        star = (rep_map.filter(F.col("id") != F.col("rep"))
                .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"),
                        *ones))
        return rep_pairs.unionByName(star)
    ga = rep_map.select(F.col("rep").alias("id_a"), F.col("id").alias("__ma__"))
    gb = rep_map.select(F.col("rep").alias("id_b"), F.col("id").alias("__mb__"))
    cross = (rep_pairs.join(ga, on="id_a").join(gb, on="id_b")
             .select(F.least("__ma__", "__mb__").alias("id_a"),
                     F.greatest("__ma__", "__mb__").alias("id_b"), *sims))
    within = bucket_pairs(rep_map.select(F.col("rep").alias("bk"), "id"),
                          ["bk"], id_col="id", max_bucket=max_bucket,
                          observation=observation).select("id_a", "id_b", *ones)
    return cross.unionByName(within)
