"""SimHash near-duplicate detection.

64-bit SimHash over word tokens: per-token xxhash64, sum +1/-1 per bit,
sign -> bit.  Pure Column higher-order functions.

Hamming-distance candidate lookup uses the pigeonhole banding trick: if
hamming(a, b) <= d, then at least one of (d+1) equal-width chunks is
identical — so bucket on each chunk and join (same shuffle shape as
MinHash LSH banding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from apache_beam_spark.functions.text import word_tokens

_BITS = 64


def simhash(text: Column) -> Column:
    """64-bit SimHash as bigint."""
    import functools

    hashes = F.transform(word_tokens(text), lambda t: F.xxhash64(t))
    # counts[i] = sum over tokens of (bit_i(h) ? 1 : -1); bit positions
    # are python-loop literals (shiftright needs a literal shift amount)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), _BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
                for i in range(_BITS)
            ]),
            lambda a, b: a + b,
        ),
    )
    # fold sign bits back into one bigint; bit 63 is the sign bit, so its
    # literal is min-long (1<<63 would overflow under ANSI mode)
    bits = []
    for i in range(_BITS):
        v = F.lit(-(1 << 63)).cast("bigint") if i == _BITS - 1 else F.lit(1 << i).cast("bigint")
        bits.append(
            F.when(F.element_at(counts, i + 1) > 0, v).otherwise(F.lit(0).cast("bigint"))
        )
    return functools.reduce(lambda a, b: a.bitwiseOR(b), bits)


def _chunks(col: Column, n_chunks: int) -> list[Column]:
    width = _BITS // n_chunks
    mask = (1 << width) - 1
    return [F.shiftright(col, i * width).bitwiseAND(F.lit(mask)) for i in range(n_chunks)]


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sh): SimHash via explode + 64 native sum aggregates.

    The pure-Column fold (``simhash``) evaluates interpreted (no codegen
    for higher-order functions) and allocates a 64-wide array per token —
    measured 9x slower under many cores from allocator contention.  This
    path explodes tokens and runs 64 ``sum(bit_i)`` aggregates in one
    whole-stage-codegen HashAggregate with map-side partial aggregation:
    the shuffle carries 64 partial sums per doc, not the tokens.
    """
    from apache_beam_spark.dedup.minhash import _parallelize_narrow

    # token explode + 64 per-bit partial sums: ~16x a plain text pass
    toks = _parallelize_narrow(df.select(F.col(id_col).alias("id"),
                                         F.col(text_col)), weight=16) \
        .select("id", F.explode(word_tokens(F.col(text_col))).alias("t"))
    # the 64 aggregates and the 64-bit reconstruction are built as SQL
    # strings parsed in ONE py4j call each (optimization r13): the
    # per-Column builder version made ~9,300 py4j round trips — 2.0 s
    # of pure driver-side socket chatter per construction — for an
    # expression tree the SQL parser produces identically
    aggs = [F.expr(f"sum(shiftright(xxhash64(t), {i}) & 1) as b{i}")
            for i in range(_BITS)]
    g = toks.groupBy("id").agg(*aggs, F.count(F.lit(1)).alias("n"))
    # bit i set iff strict majority of token hashes have bit i set
    # (sum(+-1) > 0  <=>  2*ones > n); bit 63 literal is min-long
    terms = " | ".join(
        f"(case when b{i} * 2 > n then "
        + (f"{-(1 << 63)}L" if i == _BITS - 1 else f"{1 << i}L")
        + " else 0L end)"
        for i in range(_BITS))
    return g.select("id", F.expr(f"({terms}) as sh"))


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Drop docs whose simhash is within ``max_hamming`` of a smaller-id
    doc (bucket-min over (d+1) chunk buckets + exact hamming verify).

    Skew discipline (VERDICT r3 item 1): when the memoized corpus clone
    probe (``dedup/probe.should_collapse`` — token-stream-identical docs
    have identical simhashes) finds a flood, ids sharing an IDENTICAL
    64-bit simhash collapse to their min-id representative before the
    chunk-bucket self-join, so a boilerplate-heavy corpus (many exact
    hash duplicates) joins one row per distinct hash instead of w —
    the equivalence is exact: a non-rep member is hamming-0 from its
    smaller rep (always dropped), and a rep needs dropping iff some
    SMALLER rep is within range (any smaller member's group rep is
    smaller still, with the same hash).  On a clean corpus the direct
    self-join runs.  Output identical either way."""
    from apache_beam_spark.dedup.probe import should_collapse
    from apache_beam_spark.plans.caching import cache_scoped

    n_chunks = max_hamming + 1
    collapse = should_collapse(df, text_col)
    # cache: (id, 64-bit hash) is ~16B/doc; reps + members read it twice
    sh = cache_scoped(simhash_table(df, text_col, id_col))
    if not collapse:
        non_rep = None
        reps = sh
    else:
        rep_w = W.partitionBy("sh")
        m = sh.withColumn("rep", F.min("id").over(rep_w))
        non_rep = m.filter(F.col("id") != F.col("rep")) \
            .select(F.col("id").alias(id_col))
        reps = m.filter(F.col("id") == F.col("rep")).select("id", "sh")
    chunk_cols = _chunks(F.col("sh"), n_chunks)
    tagged = reps.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"), c.alias("ck")) for i, c in enumerate(chunk_cols)
        ])).alias("b"),
    ).select("id", "sh", "b.chunk", "b.ck")
    # candidate rep pairs within chunk buckets, verified by exact hamming
    a = tagged.select(F.col("chunk"), F.col("ck"), F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = tagged.select(F.col("chunk"), F.col("ck"), F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    dup_reps = (
        a.join(b, on=["chunk", "ck"])
        .filter((F.col("id_b") > F.col("id_a")) & (hamming64(F.col("sh_a"), F.col("sh_b")) <= max_hamming))
        .select(F.col("id_b").alias(id_col)).distinct()
    )
    drops = dup_reps if non_rep is None else \
        dup_reps.unionByName(non_rep).distinct()
    return df.join(drops, on=id_col, how="left_anti")


def simhash_dedup_md5(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3) -> DataFrame:
    """Cross-engine-deterministic SimHash dedup — the oracle-checkable
    twin of ``simhash_dedup`` (same majority-vote bits, pigeonhole
    chunk banding, exact hamming verify, drop-dup-of-smaller-id rule).

    Portability trick: the per-token hash is the first 16 hex chars of
    md5, bits extracted by nibble arithmetic, and the 64-bit simhash is
    carried as a '0'/'1' STRING — every step is reproducible in any SQL
    engine with md5() (see the ``dedup_simhash_md5`` oracle).  ~64x the
    hashing work of the xxhash64 path: for verification, not the hot
    path.  Returns kept ids as one ``id_col`` column.
    """
    n_chunks = max_hamming + 1
    assert _BITS % n_chunks == 0, "chunk count must divide 64"
    width = _BITS // n_chunks

    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(word_tokens(F.col(text_col))).alias("t"))
    hx = toks.select(
        "id", F.substring(F.md5(F.encode("t", "UTF-8")), 1, 16).alias("hx"))
    # bit j of the 64-bit hash (LSB-first, matching value >> j & 1):
    # nibble = hex digit 16 - j//4 (1-based from the left)
    aggs = [
        F.sum(F.expr(
            f"shiftright(instr('0123456789abcdef', "
            f"substring(hx, {16 - j // 4}, 1)) - 1, {j % 4}) & 1"
        )).alias(f"b{j}")
        for j in range(_BITS)
    ]
    g = hx.groupBy("id").agg(*aggs, F.count(F.lit(1)).alias("n"))
    # strict majority per bit (2*ones > n), same rule as simhash_table
    bs = F.concat(*[
        F.when(F.col(f"b{j}") * 2 > F.col("n"), F.lit("1")).otherwise(F.lit("0"))
        for j in range(_BITS)
    ])
    t = g.select("id", bs.alias("bs"))
    chunks = t.select(
        "id", "bs",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"),
                     F.substring("bs", c * width + 1, width).alias("ck"))
            for c in range(n_chunks)
        ])).alias("b"),
    ).select("id", "bs", "b.c", "b.ck")
    a = chunks.select("c", "ck", F.col("id").alias("id_a"), F.col("bs").alias("ba"))
    b = chunks.select("c", "ck", F.col("id").alias("id_b"), F.col("bs").alias("bb"))
    ham = F.expr(
        "size(filter(sequence(1, 64), j -> substring(ba, j, 1) != substring(bb, j, 1)))")
    dup = (a.join(b, ["c", "ck"])
           .filter((F.col("id_b") > F.col("id_a")) & (ham <= max_hamming))
           .select("id_b").distinct())
    return (df.select(F.col(id_col))
            .join(dup.withColumnRenamed("id_b", id_col), id_col, "left_anti"))
