"""MinHash + LSH near-duplicate detection.

Pipeline: shingle -> k minhashes -> b bands of r hashes -> band-bucket
join.  Everything is Column higher-order functions (JVM, codegen) — the
only shuffles are the band-bucket groupBy and the final semi-join.

Hash family: h_i(x) = pmod(a_i * pmod(xxhash64(x), P) + b_i, P) with a
31-bit prime P (Spark-ML MinHashLSH style) so a*h+b < 2^62 — no long
overflow under ANSI mode.  Fixed seeds — deterministic across runs;
oracle checks for this op are rows-only (no portable SQL equivalent).

Scale notes (100 TB):
  * signatures are k*8 bytes/doc — the heavy text column never shuffles;
  * band explode is k/r rows/doc of (band_hash, id) — tiny;
  * bucket-min dedup avoids materializing candidate pairs entirely;
  * on a clone flood (``dedup/probe.py``) pair generation collapses
    identical signatures to one representative; over-cap buckets are
    triangle-split (``dedup/buckets.bucket_pairs``) — degenerate
    buckets from boilerplate-heavy docs are bounded per task, never
    dropped.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_beam_spark.functions.text import shingles

_PRIME = 2038074743  # 31-bit prime (same one Spark ML's MinHashLSH uses)


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [(rnd.randrange(1, _PRIME), rnd.randrange(0, _PRIME)) for _ in range(num_hashes)]


def minhash_signature(text: Column, num_hashes: int = 64, shingle_k: int = 3,
                      seed: int = 42) -> Column:
    """array<bigint> MinHash signature of a text column.

    Single-pass formulation: one fold over the shingle array keeping an
    elementwise-min accumulator of all ``num_hashes`` hash functions.
    (The naive per-function ``array_min(transform(...))`` inlines — and
    recomputes — the shingling pipeline num_hashes times per row after
    Catalyst's projection collapse: ~100x slower.)
    """
    params = _hash_params(num_hashes, seed)
    sh = shingles(text, shingle_k)
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_PRIME)))
    init = F.array_repeat(F.lit(_PRIME).cast("bigint"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.pmod(F.lit(a) * h + F.lit(b), F.lit(_PRIME)) for a, b in params]),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signature_table(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_hashes: int = 64,
                            shingle_k: int = 3,
                            seed: int = 42) -> DataFrame:
    """(id, __sig__) MinHash signatures via explode + ``num_hashes``
    native min aggregates — the DataFrame twin of
    :func:`minhash_signature` (optimization r13).

    The per-row HOF fold evaluates interpreted (no codegen for
    higher-order functions) and allocates a ``num_hashes``-wide array
    per shingle — the exact pathology ``simhash_table``'s docstring
    records for the simhash fold.  Exploding shingles and running the
    mins as one whole-stage-codegen HashAggregate with map-side
    partial aggregation computes the identical values (min over the
    same multiset; duplicates cannot change a min): per shingle s and
    function i, ``pmod(a_i * pmod(xxhash64(s), P) + b_i, P)``; a doc
    with no shingles gets the fold's init vector ``[P] * num_hashes``
    (explode_outer keeps it as one null-shingle row, the null min
    coalesces to P); a null shingle ARRAY reproduces the fold's null
    signature via the ``__tn__`` guard.  Aggregates are built as SQL
    strings — one parser call each, not ~6 py4j round trips per
    Column (the simhash_table precedent)."""
    src = _parallelize_narrow(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        weight=num_hashes)
    arr = shingles(F.col(text_col), shingle_k)
    ex = (src.select("id", arr.alias("__arr__"))
          .select("id", F.col("__arr__").isNull().alias("__tn__"),
                  F.explode_outer("__arr__").alias("__s__")))
    params = _hash_params(num_hashes, seed)
    aggs = [F.expr(
        f"coalesce(min(pmod({a}L * pmod(xxhash64(__s__), {_PRIME}L) "
        f"+ {b}L, {_PRIME}L)), {_PRIME}L) as m{i}")
        for i, (a, b) in enumerate(params)]
    g = ex.groupBy("id").agg(*aggs, F.max("__tn__").alias("__tn__"))
    sig = F.expr("array(" + ", ".join(f"m{i}" for i in range(num_hashes))
                 + ")")
    from apache_beam_spark.plans.caching import cache_scoped

    # suite-scoped (id, __sig__) cache (optimization r13, the
    # simhash_table precedent): every same-parameter consumer — the
    # dedup window, the pair miner, the band index — and every rebuild
    # of the same query reads one copy instead of re-running the
    # shingle explode + 64-agg pass; ~num_hashes longs per doc
    return cache_scoped(g.select(
        "id",
        F.when(F.col("__tn__"), F.lit(None)).otherwise(sig)
        .alias("__sig__")))


def minhash_signature_md5(text: Column, num_hashes: int = 64,
                          shingle_k: int = 3) -> Column:
    """array<string> md5 MinHash signature — the STATELESS Column twin
    of ``minhash_dedup_md5``'s explode/groupBy formulation:
    ``sig[i] = min over distinct shingles of
    substr(md5(shingle || ':' || i), 1, 16)`` with lexicographic min,
    bit-identical to the DuckDB oracle expression (pinned in
    tests/test_streaming_minhash.py).  Being a pure per-row HOF is what
    lets the md5 family run inside STREAMING plans, where a per-doc
    groupBy would be another stateful operator.  Same single-pass fold
    shape as ``minhash_signature``; ~num_hashes x the hashing work of
    the xxhash64 fast path — verification tier, not the hot path."""
    sh = F.array_distinct(shingles(text, shingle_k))
    # any md5 hex prefix sorts below this sentinel
    init = F.array_repeat(F.lit("~"), num_hashes)
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.substring(F.md5(F.encode(
                F.concat_ws(":", s, F.lit(str(i))), "UTF-8")), 1, 16)
                for i in range(num_hashes)]),
            lambda x, y: F.least(x, y),
        ),
    )


def _band_rows_md5(sig_col: str, num_bands: int,
                   rows_per_band: int) -> Column:
    """array<struct<band:int, bh:string>> over an md5 signature —
    ``bh = md5(concat of the band's mins in i order)``, matching both
    ``minhash_dedup_md5``'s band key and the DuckDB
    ``md5(string_agg(h, '' ORDER BY i))``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda band: F.struct(
            band.cast("int").alias("band"),
            F.md5(F.encode(F.array_join(
                F.slice(F.col(sig_col), band * rows_per_band + 1,
                        rows_per_band), ""), "UTF-8")).alias("bh"),
        ),
    )


def _band_rows(sig_col: str, num_bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, bh:bigint>> — one hash per band."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda band: F.struct(
            band.cast("int").alias("band"),
            F.xxhash64(F.concat_ws(",", F.transform(
                F.slice(F.col(sig_col), band * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ))).alias("bh"),
        ),
    )


# shared with simhash/ngram/knn/kmeans; kept importable from here
from apache_beam_spark.plans.partitioning import (  # noqa: E402
    parallelize_narrow as _parallelize_narrow,
)


def minhash_lsh_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, num_bands: int = 16, shingle_k: int = 3,
                      seed: int = 42) -> DataFrame:
    """Near-dup removal: a doc survives iff it owns the min id in every
    LSH bucket it occupies (bucket-min rule — a scalable one-round
    approximation of connected components; duplicates of a kept doc are
    dropped by the bucket they share with it).

    Plan shape: signature+bands are computed in ONE pass; the per-bucket
    min comes from a window over (band, bh) instead of a self-join, so
    the expensive signature lineage is never re-evaluated.  Shuffles
    carry only (id, band, bh) — the text column never moves.
    """
    from pyspark.sql.window import Window as W

    r = num_hashes // num_bands
    # codegen signature table (see minhash_signature_table): identical
    # values to the per-row fold at hash-aggregate cost
    sigs = minhash_signature_table(df, text_col, id_col, num_hashes,
                                   shingle_k, seed) \
        .select(F.col("id").alias(id_col), "__sig__")
    bands = sigs.select(
        id_col, F.explode(_band_rows("__sig__", num_bands, r)).alias("b")
    ).select(id_col, "b.band", "b.bh")
    keep = (
        bands.withColumn("__bmin__", F.min(id_col).over(W.partitionBy("band", "bh")))
        .groupBy(id_col).agg(F.min("__bmin__").alias("__canon__"))
        .filter(F.col(id_col) == F.col("__canon__"))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, num_bands: int = 16, shingle_k: int = 3,
                      threshold: float = 0.5, seed: int = 42,
                      max_bucket: int = 1000,
                      observation=None) -> DataFrame:
    """Candidate near-dup pairs with estimated jaccard (signature
    agreement rate), verified against ``threshold``.

    Bucket discipline (VERDICT r3 item 1): over-cap buckets are
    chunked + triangle-split by ``dedup/buckets.bucket_pairs`` — never
    silently dropped, so a boilerplate-heavy corpus's most-duplicated
    content (est_jaccard 1.0, the exact pairs dedup exists for) always
    surfaces.  Pass an ``Observation`` for overcap counters.

    Plan: when the memoized corpus clone probe
    (``dedup/probe.should_collapse`` — token-stream-identical docs have
    identical signatures) finds a flood, ids with IDENTICAL signatures
    collapse to their min-id representative before bucketing and the
    rep pairs re-expand through ``dedup/buckets.expand_rep_pairs``;
    otherwise narrow dup groups ride the buckets directly.  Output
    identical either way.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    from pyspark.sql.window import Window as W

    from apache_beam_spark.dedup.buckets import bucket_pairs, expand_rep_pairs
    from apache_beam_spark.dedup.probe import should_collapse

    r = num_hashes // num_bands
    # NO cache here: minhash_signature_table is already cache_scoped,
    # and the rename projection over that cached table is free — an
    # outer cache materialized a second in-memory copy of ~the same
    # (id, sig) rows for the suite's lifetime (VERDICT r13 item 6 /
    # ADVICE: cache-over-cache)
    sigs = (minhash_signature_table(df, text_col, id_col, num_hashes,
                                    shingle_k, seed)
            .select("id", F.col("__sig__").alias("sig")))
    bands = sigs.select(
        "id", F.explode(_band_rows("sig", num_bands, r)).alias("b")
    ).select("id", "b.band", "b.bh")
    if not should_collapse(df, text_col):
        # bounded-width path: narrow dup groups ride the buckets
        # directly — no rep window, no expansion joins
        pairs = bucket_pairs(bands, ["band", "bh"], id_col="id",
                             max_bucket=max_bucket, observation=observation)
    else:
        # identical-signature collapse: ids-only shuffle off the
        # cached sigs
        rep_map = (sigs.select("id", F.xxhash64("sig").alias("__h__"))
                   .withColumn("rep", F.min("id").over(W.partitionBy("__h__")))
                   .select("id", "rep"))
        members = (bands.join(rep_map, on="id")
                   .select("band", "bh", F.col("rep").alias("id")))
        rep_pairs = bucket_pairs(members, ["band", "bh"], id_col="id",
                                 max_bucket=max_bucket, observation=observation)
        pairs = expand_rep_pairs(rep_pairs, rep_map,
                                 max_bucket=max_bucket).distinct()
    est = F.aggregate(
        F.zip_with("__sa__", "__sb__", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    ) / F.lit(num_hashes)
    out = (
        pairs.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("__sa__")), on="id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("__sb__")), on="id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    return out


def minhash_dedup_md5(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, num_bands: int = 16,
                      shingle_k: int = 3) -> DataFrame:
    """Cross-engine-deterministic MinHash-LSH dedup — the
    oracle-checkable twin of ``minhash_lsh_dedup``.

    The fast path uses xxhash64 (engine-specific, so its oracle is
    rows-only); here every hash is an md5 hex substring —
    ``h_i(shingle) = substr(md5(shingle || ':' || i), 1, 16)`` with
    LEXICOGRAPHIC min — and band keys are md5 over the concatenated
    per-band mins, so any SQL engine with md5() reproduces the exact
    kept-set (see the ``dedup_minhash_md5`` oracle in
    ``__spark_entry__.py``).  Same word-shingling, bucket-min keep rule
    and shuffle shape as the fast path; ~num_hashes x more hashing
    work, so use it for verification, not the hot path.

    Returns the kept ids as one ``id_col`` column.
    """
    r = num_hashes // num_bands
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(
            shingles(F.col(text_col), shingle_k))).alias("s"))
    hx = (sh.select(
            "id", "s",
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("i"))
          .select("id", "i",
                  F.substring(F.md5(F.encode(
                      F.concat_ws(":", "s", "i"), "UTF-8")), 1, 16).alias("h"))
          .groupBy("id", "i").agg(F.min("h").alias("h")))
    bands = (hx.groupBy("id", F.expr(f"i div {r}").alias("band"))
             .agg(F.md5(F.encode(F.concat_ws("", F.transform(
                 F.array_sort(F.collect_list(F.struct("i", "h"))),
                 lambda x: x["h"])), "UTF-8")).alias("bh")))
    bmin = bands.groupBy("band", "bh").agg(F.min("id").alias("m"))
    canon = (bands.join(bmin, ["band", "bh"])
             .groupBy("id").agg(F.min("m").alias("c")))
    return (df.select(F.col(id_col).alias("id"))
            .join(canon, "id", "left")
            .filter(F.coalesce(F.col("c"), F.col("id")) == F.col("id"))
            .select(F.col("id").alias(id_col)))


def _bands_frame(df: DataFrame, text_col: str, id_col: str,
                 num_hashes: int, num_bands: int, shingle_k: int,
                 seed: int, hashing: str) -> DataFrame:
    """(id, band, bh) band-bucket rows via the stateless Column
    signature — ``hashing="xx"`` (fast path) or ``"md5"`` (the
    cross-engine-deterministic verification tier)."""
    if hashing not in ("xx", "md5"):
        raise ValueError(f"unknown hashing {hashing!r}: want 'xx' or 'md5'")
    r = num_hashes // num_bands
    if hashing == "xx":
        # codegen signature table — identical values to the fold
        sigs = minhash_signature_table(df, text_col, id_col, num_hashes,
                                       shingle_k, seed)
        return (sigs.select("id", F.explode(
            _band_rows("__sig__", num_bands, r)).alias("b"))
            .select("id", "b.band", "b.bh"))
    sig = minhash_signature_md5(F.col(text_col), num_hashes, shingle_k)
    src = _parallelize_narrow(df.select(F.col(id_col).alias("id"),
                                        F.col(text_col)),
                              weight=num_hashes)
    return (src.select("id", sig.alias("__sig__"))
            .select("id", F.explode(_band_rows_md5("__sig__", num_bands, r))
                    .alias("b"))
            .select("id", "b.band", "b.bh"))


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       num_bands: int = 16, shingle_k: int = 3,
                       seed: int = 42, hashing: str = "xx") -> DataFrame:
    """DISTINCT (band, bh) bucket index of a kept corpus — the
    persistable artifact incremental near-dup ingest probes
    (``minhash_dedup_incremental``).  At 100 TB: write it once as a
    table BUCKETED BY (band, bh) (`plans/layout.py` bucketing) so every
    later batch probe co-locates on the bucket key and shuffles ONLY
    the batch side; after each ingest, union the kept batch's buckets
    in (an append, no rebuild).  Rows are (int, hash) pairs — a
    fraction of the raw text's bytes."""
    return _bands_frame(df, text_col, id_col, num_hashes, num_bands,
                        shingle_k, seed, hashing) \
        .select("band", "bh").distinct()


def minhash_dedup_incremental(batch: DataFrame, index: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              num_hashes: int = 64, num_bands: int = 16,
                              shingle_k: int = 3, seed: int = 42,
                              hashing: str = "xx") -> DataFrame:
    """Incremental NEAR-dup ingest — the LSH twin of the exact
    ``dedup_incremental`` anti join: a new batch is deduped against the
    already-kept corpus' ``minhash_band_index`` WITHOUT touching the
    corpus itself.

    Keep rule (deterministic, value-oracled in the md5 mode): a batch
    doc survives iff (a) it is the bucket-min of every band bucket it
    occupies WITHIN the batch (exactly ``minhash_lsh_dedup``'s rule),
    and (b) none of its buckets hits the history index (it is not a
    near-dup of anything already kept).  The composition mirrors the
    streaming first-arrival rule with history as the earlier arrival.

    Shape at 100 TB: batch bands are batch-sized and the expensive
    signature lineage is evaluated ONCE — the index probe is a left
    join on (band, bh) (against a bucketed index only the batch
    shuffles), the in-batch bucket-min is a window over the same
    shuffle, and one aggregation folds both into a per-doc
    (canon, hit) verdict (the ``minhash_lsh_dedup`` window discipline:
    no self-join back onto the signature subtree).
    Returns the kept ``id_col`` rows."""
    from pyspark.sql.window import Window as W

    bands = _bands_frame(batch, text_col, id_col, num_hashes, num_bands,
                         shingle_k, seed, hashing)
    probed = bands.join(
        index.select("band", "bh").withColumn("__hit__", F.lit(1)),
        ["band", "bh"], "left")
    verdict = (probed
               .withColumn("__bmin__",
                           F.min("id").over(W.partitionBy("band", "bh")))
               .groupBy("id").agg(F.min("__bmin__").alias("c"),
                                  F.max("__hit__").alias("hit")))
    return (batch.select(F.col(id_col).alias("id"))
            .join(verdict, "id", "left")
            .filter((F.coalesce(F.col("c"), F.col("id")) == F.col("id"))
                    & F.col("hit").isNull())
            .select(F.col("id").alias(id_col)))
