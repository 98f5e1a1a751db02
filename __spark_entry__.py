"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps SURVEY.md §2's operator inventory (plus the
training-data-pipeline extensions) to engine invocations; ``oracle_sql``
provides the DuckDB-equivalent SQL for the hash-compared correctness
gate.  Conventions keeping the two engines hash-identical:

* double SUMs go through DECIMAL(18,2|4) (exact, order-independent —
  plain double summation differs across partition orders) and back to
  double;
* AVGs are computed as exact-decimal-sum / count, rounded;
* similarity scores are rounded; rankings always carry a deterministic
  tiebreak;
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_spark.pipeline import Pipeline
from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.operators.elementwise import KvSwap, Regex, ToStringOp, WithKeys, Partition
from apache_beam_spark.operators.grouping import CoGroupByKey, GroupByKey, GroupIntoBatches
from apache_beam_spark.operators.combine import (
    ApproximateQuantiles, ApproximateUnique, Combine, Count, Distinct, Sample, Top,
)
from apache_beam_spark.operators.join import Join
from apache_beam_spark.operators.flatten import Flatten
from apache_beam_spark.windowing import CalendarWindows, FixedWindows, Sessions, SlidingWindows
from apache_beam_spark.functions import text as T
from apache_beam_spark.dedup.exact import exact_dedup
from apache_beam_spark.dedup.minhash import minhash_lsh_dedup
from apache_beam_spark.dedup.simhash import simhash_dedup
from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs
from apache_beam_spark.similarity.knn import lsh_topk

SF0001 = "/root/testdata/sf0.001"

#: per-query LSH bucket telemetry (VERDICT r4 item 4): banded miners
#: attach a fresh ``Observation`` each run; after the consuming action
#: finishes, ``LAST_OBSERVATIONS[name].get`` returns ``n_buckets`` /
#: ``overcap_buckets`` / ``overcap_candidates`` / ``max_bucket_width``
#: — the split-instead-of-drop counters a 100 TB operator watches
#: (docs/RUNBOOK.md "Reading the LSH bucket telemetry").
LAST_OBSERVATIONS: dict = {}


def _bucket_observation(name: str):
    """Fresh per-run Observation (an instance attaches exactly once),
    registered under the query name for post-action readout."""
    from pyspark.sql import Observation

    obs = Observation(f"{name}_buckets")
    LAST_OBSERVATIONS[name] = obs
    return obs


def _dsum(col, alias: str, scale: int = 2) -> Column:
    """Exact order-independent double sum via decimal."""
    c = F.expr(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def _davg(col, alias: str) -> Column:
    """avg = exact decimal sum / count, rounded — portable across engines."""
    c = F.expr(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(c), 6
    ).alias(alias)


#: net revenue computed in exact decimal arithmetic — casting the *inputs*
#: (clean 2-decimal values) to decimal and multiplying exactly avoids the
#: engine-dependent double->decimal rounding of an arbitrary product.
def _disc_price() -> Column:
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
_SQL_DISC_PRICE = ("CAST(l_extendedprice AS DECIMAL(18,2))"
                   " * (1 - CAST(l_discount AS DECIMAL(18,2)))")


# SQL twins of the helpers above
def _sql_dsum(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def _sql_davg(expr: str, alias: str) -> str:
    return (f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"
            f" / COUNT({expr}), 6) AS {alias}")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary (Combine.perKey over a
    pushed-down filter; reference pattern: Combine.java:153)."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    out = (
        li.where("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
        | Combine.per_key(
            ["l_returnflag", "l_linestatus"],
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            _davg("l_quantity", "avg_qty"),
            _davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out.df


def _elementwise_project(spark, sf_dir):
    """MapElements fast path: Column projection (MapElements.java:74)."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    out = li.where("l_quantity > 45").select(
        "l_orderkey", "l_linenumber",
        _disc_price().cast("double").alias("net_price"),
    )
    return out.df


def _filter_orders(spark, sf_dir):
    """Filter.by + comparison shortcuts (Filter.java:52,77)."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    return o.where((F.col("o_totalprice") > 400000) & (F.col("o_orderstatus") == "O")) \
        .select("o_orderkey", "o_totalprice").df


def _wordcount(spark, sf_dir):
    """The reference's canonical example (examples/java/.../WordCount.java):
    FlatMap(split) -> Count.perElement."""
    p = Pipeline(spark)
    docs = p.from_df(load_table(spark, "documents", sf_dir))
    words = docs.apply(Regex.split("text", "[^a-z0-9]+", alias="word"))
    return (words | Count.per_element("word", alias="n")).df


#: pinned scoring weights for `quality_lr_fixed` (FEATURE_NAMES order:
#: bias, log_len, vowel_ratio, space_ratio, digit_ratio, the_rate) —
#: the learned-once-offline artifact pattern (`embed_kmeans_fixed`)
_LR_WEIGHTS = [-6.0, 1.0, 2.0, 1.5, -4.0, 0.2]


def _quality_lr_fixed(spark, sf_dir):
    """Linear quality-classifier scoring with a PINNED model
    (operators/classifier.py::lr_score): the dot product + sigmoid is
    one codegen Column expression over deterministic text-statistic
    features, so the whole scoring pass — features, score, thresholded
    prediction — is value-oracled in DuckDB.  The trained path stays
    rows-only in `quality_lr_train`."""
    from apache_beam_spark.operators.classifier import lr_score

    d = load_table(spark, "documents", sf_dir)
    return lr_score(d, _LR_WEIGHTS).select(
        "doc_id", F.round("score", 6).alias("score"), "pred")


def _quality_lr_train(spark, sf_dir):
    """Distributed logistic regression in its BOUNDED-PASS Newton/IRLS
    mode (operators/classifier.py::lr_train): per-partition gemm
    partials now carry gradient + d x d Hessian, the driver solves the
    6 x 6 system, and quadratic convergence lands in ~5-8 corpus
    passes (vs 30-40 for fixed-step GD — the mode a 100 TB corpus
    actually runs).  Trained against a planted noisy target (n_chars +
    md5-derived +-200 noise > 300 — learnable to ~0.8 accuracy, so the
    demo is non-vacuous).  Iterative + float-order dependent:
    rows-only; both solver loops are pinned against identical numpy
    references in tests/test_classifier.py."""
    from apache_beam_spark.operators.classifier import (
        FEATURE_NAMES, lr_train)

    d = load_table(spark, "documents", sf_dir)
    noise = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 4), 16, 10).cast("long") % 401) - 200
    lab = d.withColumn("y", ((F.col("n_chars") + noise) > 300).cast("int"))
    w = lr_train(lab, "y", iters=10, solver="newton")
    return spark.createDataFrame(
        [(n, float(v)) for n, v in zip(FEATURE_NAMES, w)],
        "feature string, weight double")


def _cms_word_counts(spark, sf_dir):
    """Count-min sketch word frequencies (operators/sketches.py):
    the fixed-memory mergeable counting sketch — build is one
    map-side-combined groupBy bounded at depth*width rows regardless
    of vocabulary, estimate is a broadcast join + min.  width=32 is
    deliberately small so buckets COLLIDE and the min-over-rows
    over-estimate is exercised for real; hashes are md5-derived
    (portable-hash idiom), so sketch and estimates — collisions
    included — are fully value-oracled in DuckDB."""
    from apache_beam_spark.operators.sketches import cms_counts

    d = load_table(spark, "documents", sf_dir)
    words = (d.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+"))
                      .alias("word"))
             .filter(F.col("word") != ""))
    return cms_counts(words, "word", depth=4, width=32)


def _hll_distinct_users(spark, sf_dir):
    """HyperLogLog distinct users per event type (operators/
    sketches.py): the classic Flajolet register table with md5-derived
    60-bit hashes — build is one map-side-combined groupBy bounded at
    m=256 registers per key regardless of user cardinality, merge is
    elementwise max (idempotent).  The harmonic sum is carried as a
    common-denominator bigint so the float estimate is bit-identical
    across engines: unlike ApproximateUnique's HLL++ (rows-only
    `approx_distinct_users`), this approximate is fully value-oracled
    in DuckDB, register collisions and the linear-counting correction
    included.  Reference: ApproximateUnique.java:85."""
    from apache_beam_spark.operators.sketches import hll_distinct

    ev = load_table(spark, "events", sf_dir)
    return hll_distinct(ev, "user_id", p=8, key_cols=["event_type"])


def _kmv_user_overlap(spark, sf_dir):
    """KMV (k-minimum-values) sketch set algebra (operators/
    sketches.py): pairwise user-set Jaccard + intersection estimates
    between event types — the set-expression capability HLL registers
    cannot express (Beyer et al., SIGMOD 2007).  k=32 < the per-type
    user cardinality so the ESTIMATOR path (not the exact-below-k
    path) is exercised; md5-derived 60-bit hashes keep the k minima —
    and hence the estimates — bit-identical in DuckDB.  Reference
    job: ApproximateUnique.java:85's sketch family, extended to
    multiset operations."""
    from apache_beam_spark.operators.sketches import kmv_overlap

    ev = load_table(spark, "events", sf_dir)
    return kmv_overlap(ev, "user_id", "event_type", k=32)


def _hist_quantiles_prices(spark, sf_dir):
    """Histogram quantile sketch (operators/sketches.py): per-returnflag
    price percentiles from an equi-width bin table — the mergeable
    one-pass alternative to ApproximateQuantiles.java:97's GK combiner.
    Bin geometry is pinned to exact binary values (lo=0, hi=2^19,
    bins=256 => width 2048, an exact double), the cumulative walk stays
    on bigints, and the single final division is IEEE-deterministic, so
    unlike the engine-specific GK sketch (rows-only `approx_quantiles`)
    every estimated value is bit-identical in DuckDB — the same
    upgrade HLL gave `approx_distinct_users`."""
    from apache_beam_spark.operators.sketches import hist_quantiles_of

    li = load_table(spark, "lineitem", sf_dir)
    return hist_quantiles_of(
        li, "l_extendedprice", [0.25, 0.5, 0.75, 0.9, 0.99],
        lo=0.0, hi=float(1 << 19), bins=256, key_cols=["l_returnflag"])


def _dup_span_scrub(spark, sf_dir):
    """Exact duplicate-substring scrubbing (dedup/spans.py): every
    non-first occurrence of any >= 8-token repeated span is removed
    from its document — the Lee et al. (ACL 2022) deduplicating-
    training-data operation at word granularity, md5-keyed so DuckDB
    reproduces the exact keeper choice and surviving text."""
    from apache_beam_spark.dedup.spans import dup_span_scrub

    return dup_span_scrub(load_table(spark, "documents", sf_dir),
                          min_len=8)


def _bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer-training iteration zero (operators/bpe.py): word-
    frequency-weighted adjacent character-pair counts over the corpus —
    the counting step every merge round repeats, value-oracled; the
    iterative merge loop itself is pinned to a sequential reference in
    tests/test_bpe.py."""
    from apache_beam_spark.operators.bpe import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, "documents", sf_dir))


#: the pinned tokenizer for the oracled BPE-encode query (the fixed-
#: artifact pattern of `embed_kmeans_fixed`): learned once offline,
#: applied deterministically — merge ORDER matters and is part of the
#: contract
_BPE_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
               ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t")]


def _bpe_token_counts(spark, sf_dir):
    """BPE tokenizer APPLICATION under the pinned merge list
    (operators/bpe.py::bpe_encode_token_counts): per-document token
    count via the delimiter-replace chain — one codegen replace per
    merge, greedy left-to-right by construction, value-oracled with
    the same chain in DuckDB."""
    from apache_beam_spark.operators.bpe import bpe_encode_token_counts

    return bpe_encode_token_counts(
        load_table(spark, "documents", sf_dir), _BPE_MERGES)


def _bpe_rank_token_counts(spark, sf_dir):
    """The PRODUCTION BPE encode path under the correctness gate:
    `operators/bpe.py::bpe_encode_rank` (broadcast merge-rank dict +
    vectorized mapInPandas — plan size constant in vocabulary, the
    30k-merge regime) applied to the SAME pinned demo merge list as
    `bpe_token_counts`, against the SAME DuckDB oracle: on a chain-
    eligible vocabulary the canonical subword-nmt min-rank loop and
    the replace chain are equal (pinned in
    tests/test_tokenizer_scale.py), so both paths are value-oracled."""
    from apache_beam_spark.operators.bpe import bpe_encode_rank

    return bpe_encode_rank(
        load_table(spark, "documents", sf_dir), _BPE_MERGES)


#: the pinned unigram-LM piece table for the oracled tokenizer queries
#: (the `_BPE_MERGES` pattern): integer costs = quantized -log p, so
#: the packed Viterbi objective (cost * 8192 + tokens) is pure int64
#: and bit-identical in DuckDB.  Single chars f..z ride the <unk>
#: fallback (cost 14) — exercised, not incidental.
_UNIGRAM_PIECES = {
    "ta": 12, "ble": 15, "scan": 18, "row": 14, "er": 9, "in": 9,
    "st": 10, "ue": 11, "val": 16, "cust": 20, "win": 14, "dow": 14,
    "join": 17, "or": 9, "der": 13,
    "a": 10, "b": 10, "c": 10, "d": 10, "e": 10}
_UNIGRAM_UNK = 14
#: oracle-side mirrors of operators/unigram.py's packed-objective
#: geometry — imported, not re-typed, so the two engines cannot drift
from apache_beam_spark.operators.unigram import (  # noqa: E402
    _BIG as _UNI_BIG, _SCALE as _UNI_SCALE)
_UNI_ML = max(len(p) for p in _UNIGRAM_PIECES)


def _uni_map() -> str:
    """DuckDB MAP literal of the pinned piece table."""
    return ("MAP {" + ", ".join(f"'{k}': {v}" for k, v in
                                sorted(_UNIGRAM_PIECES.items())) + "}")


def _unigram_token_counts(spark, sf_dir):
    """Unigram-LM tokenizer APPLICATION (operators/unigram.py): per-
    document Viterbi token count + total cost under the pinned piece
    table — the SentencePiece counterpart of `bpe_token_counts`.  The
    DP is a pure-Column int64 fold (cost * 8192 + tokens packs the
    tie-break into one number), so DuckDB reproduces every value via a
    recursive CTE carrying the same bests array."""
    from apache_beam_spark.operators.unigram import unigram_segment

    return unigram_segment(load_table(spark, "documents", sf_dir),
                           _UNIGRAM_PIECES, unk_cost=_UNIGRAM_UNK)


def _unigram_token_counts_bc(spark, sf_dir):
    """The PRODUCTION unigram scoring path under the correctness gate:
    `unigram_segment` with `max_literal_pieces=0` forces the
    broadcast-dict mapInPandas Viterbi (the 32k-1M-piece regime; plan
    size constant in vocabulary) on the SAME pinned piece table as
    `unigram_token_counts`, against the SAME recursive-CTE oracle —
    the packed int64 objective is identical math in both engines."""
    from apache_beam_spark.operators.unigram import unigram_segment

    return unigram_segment(load_table(spark, "documents", sf_dir),
                           _UNIGRAM_PIECES, unk_cost=_UNIGRAM_UNK,
                           max_literal_pieces=0)


#: pinned WordPiece vocabulary (the `_BPE_MERGES` pattern): greedy
#: longest-match decisions (cust/##omer, tab vs ta, ##eam, ##ue),
#: continuation markers, and [UNK] routing (dup/group/spark hit the
#: missing ##p) are all exercised against the documents corpus.
_WP_VOCAB = sorted(
    list("abcdfghjklmopqrstvw")
    + ["scan", "tab", "val", "win", "the", "cust", "sma"]
    + ["##" + c for c in "abcdeghilmnorstuwy"]
    + ["##omer", "##ble", "##dow", "##ue", "##der", "##ry", "##eam"])
_WP_MAX_SPAN = 4


def _wp_map() -> str:
    """DuckDB MAP literal of the pinned WordPiece vocabulary."""
    return ("MAP {" + ", ".join(f"'{p}': 1" for p in _WP_VOCAB) + "}")


def _wordpiece_token_counts(spark, sf_dir):
    """WordPiece tokenizer APPLICATION (operators/wordpiece.py — the
    THIRD tokenizer family, BERT-style greedy longest-match with ##
    continuation markers and HuggingFace all-or-nothing [UNK]
    semantics) under the pinned vocabulary: per-document token count +
    [UNK]-word count from the one broadcast-set mapInPandas walk (run
    once per distinct word), value-oracled via a DuckDB recursive CTE
    replaying the same greedy walk (longest admissible span per step,
    whole word -> one [UNK] on any miss)."""
    from apache_beam_spark.operators.wordpiece import (
        wordpiece_token_counts)

    return wordpiece_token_counts(load_table(spark, "documents", sf_dir),
                                  _WP_VOCAB)


def _wordpiece_token_counts_bc(spark, sf_dir):
    """The production-vocabulary WordPiece query name, kept registered:
    WordPiece has a single encode path (broadcast set + mapInPandas,
    plan size constant in vocab — BERT vocabs are 30k pieces), so this
    is the same plan and the SAME oracle as `wordpiece_token_counts`."""
    return _wordpiece_token_counts(spark, sf_dir)


def _dsir_scores(spark, sf_dir):
    """DSIR importance scores (operators/dsir.py — Xie et al. NeurIPS
    2023): every document scored by the quantized log-likelihood ratio
    of its hashed unigram+bigram features under bag-of-ngrams models
    of a TARGET subcorpus (doc_id % 7 == 0 — a deterministic 'domain')
    vs the raw corpus.  md5 feature hashing + int64-quantized weights
    make the whole pipeline reproducible in DuckDB; value-oracled."""
    from apache_beam_spark.operators.dsir import (dsir_featurize,
                                                  dsir_scores, dsir_weights)
    from apache_beam_spark.plans.caching import cache_scoped

    docs = load_table(spark, "documents", sf_dir)
    target = docs.where(F.col("doc_id") % 7 == 0)
    # featurize ONCE (optimization r13): the md5 bucket transform is
    # the expensive stage; the q-counts, the target p-counts (a filter
    # of the same frame — the target IS a slice of the corpus) and the
    # per-doc scoring all read the one cached (doc_id, bucket) frame
    feats = cache_scoped(dsir_featurize(docs))
    w = dsir_weights(docs, target, raw_feats=feats,
                     target_feats=feats.where(F.col("doc_id") % 7 == 0))
    return dsir_scores(docs, w, feats=feats)


def _dsir_select_top(spark, sf_dir):
    """The DSIR SELECTION step: keep the top 10% of documents by
    importance score with a deterministic (score desc, doc_id)
    tie-break — the actual data-selection output a pretraining
    pipeline materializes.  Value-oracled (same weights CTE + QUALIFY
    row_number)."""
    from apache_beam_spark.operators.dsir import (dsir_featurize,
                                                  dsir_select, dsir_weights)
    from apache_beam_spark.plans.caching import cache_scoped

    docs = load_table(spark, "documents", sf_dir)
    target = docs.where(F.col("doc_id") % 7 == 0)
    # one shared featurization (see _dsir_scores) — identical plan, so
    # the scoped cache is shared with the dsir_scores entry too
    feats = cache_scoped(dsir_featurize(docs))
    w = dsir_weights(docs, target, raw_feats=feats,
                     target_feats=feats.where(F.col("doc_id") % 7 == 0))
    return dsir_select(docs, w, frac=0.1, feats=feats)


def _wordpiece_piece_counts(spark, sf_dir):
    """WordPiece piece USAGE counts (operators/wordpiece.py): corpus-
    weighted greedy-segmentation piece frequencies under the pinned
    vocabulary, with '[UNK]' counted once per unmatched word — the
    aggregate a vocabulary pruning pass consumes (the
    unigram_piece_counts analog).  Value-oracled by extending the
    greedy recursive CTE with the accumulated piece list."""
    from apache_beam_spark.operators.wordpiece import (
        wordpiece_piece_counts)

    return wordpiece_piece_counts(load_table(spark, "documents", sf_dir),
                                  _WP_VOCAB)


def _unigram_piece_counts(spark, sf_dir):
    """Unigram piece USAGE counts (operators/unigram.py): corpus-
    weighted Viterbi-segmentation piece frequencies under the pinned
    table, from the broadcast-table mapInPandas DP + backtrack walk run
    once per distinct word — the E-step aggregate the hard-EM trainer
    repeats (tests/test_unigram.py pins the trainer itself
    round-by-round).  The walk's tie-break (shortest admissible piece)
    is part of the pinned contract; the oracle replays it in a second
    recursive CTE."""
    from apache_beam_spark.operators.unigram import unigram_piece_counts

    return unigram_piece_counts(load_table(spark, "documents", sf_dir),
                                _UNIGRAM_PIECES, unk_cost=_UNIGRAM_UNK)


def _group_by_key(spark, sf_dir):
    """GroupByKey -> per-key bag; emit bag size (GroupByKey.java:139)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    gbk = ev.apply(GroupByKey(keys="user_id", value="value", alias="values"))
    return gbk.select("user_id", F.size("values").alias("n")).df


def _combine_grouped_values(spark, sf_dir):
    """Combine.groupedValues (Combine.java:2073): combine each
    already-grouped GBK bag in place via the aggregate() HOF — no
    second shuffle after the GroupByKey."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    gbk = ev.apply(GroupByKey(keys="user_id", value="value", alias="values"))
    gv = gbk.apply(Combine.grouped_values(
        "values", "total",
        zero=F.lit(0).cast("decimal(38,2)"),
        merge=lambda acc, v: acc + v.cast("decimal(18,2)"),
        finish=lambda acc: acc.cast("double")))
    return gv.select("user_id", F.size("values").alias("n"), "total").df


def _combine_per_key_multi(spark, sf_dir):
    """Multiple CombineFns in one pass (TupleCombineFn, combiners.py:442)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return (ev | Combine.per_key(
        "event_type",
        _dsum("value", "total"),
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )).df


def _count_global(spark, sf_dir):
    """Count.globally (reference transforms/Count.java:54): one scalar row."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    return (li | Count.globally(alias="n")).df


def _count_per_element(spark, sf_dir):
    """Count.perElement (Count.java:75): counts per distinct value."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    return (li | Count.per_element("l_returnflag", alias="n")).df


def _stats_per_key(spark, sf_dir):
    """Min/Max/Mean/Count per key (Min.java, Max.java, Mean.java:83)."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    return (li | Combine.per_key(
        "l_returnflag",
        F.min("l_quantity").alias("qmin"),
        F.max("l_quantity").alias("qmax"),
        _davg("l_quantity", "qavg"),
        F.count(F.lit(1)).alias("n"),
    )).df


def _top_global(spark, sf_dir):
    """Top.largest (Top.java:146) — TakeOrderedAndProject, no full sort."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    top = o | Top.largest("o_totalprice", 10, tiebreak=["o_orderkey"])
    return top.select("o_orderkey", "o_totalprice").df


def _top_per_key(spark, sf_dir):
    """Top.perKey (Top.java:237) — bounded heap per key via row_number."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    top = li | Top.per_key("l_returnflag", "l_extendedprice", 3,
                           rank_alias="rank", tiebreak=["l_orderkey", "l_linenumber"])
    return top.select("l_returnflag", "l_orderkey", "l_extendedprice", "rank").df


def _distinct_segments(spark, sf_dir):
    """Distinct (transforms/Distinct.java:48) over a derived segment column."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    return c.apply(Distinct(cols=["c_mktsegment"])).df


def _distinct_representative(spark, sf_dir):
    """Distinct.withRepresentativeValueFn (Distinct.java:87,163) — keep
    the min-orderkey witness per customer."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    d = o.apply(Distinct(representative="o_custkey", order_col="o_orderkey"))
    return d.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_totalprice").alias("first_price"),
    ).df


def _latest_per_user(spark, sf_dir):
    """Latest.perKey (Latest.java:57) with deterministic tiebreak:
    max(struct(ts, event_id)) == ORDER BY ts DESC, event_id DESC LIMIT 1."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return (ev | Combine.per_key(
        "user_id",
        F.max(F.struct("ts", "event_id")).alias("__m__"),
    )).select(
        "user_id",
        F.col("__m__.ts").alias("latest_ts"),
        F.col("__m__.event_id").alias("latest_event"),
    ).df


def _distinct_count_exact(spark, sf_dir):
    """Exact distinct-count twin of approx_distinct_users (oracled)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return (ev | Combine.per_key(
        "event_type", F.countDistinct("user_id").alias("n_users")
    )).df


def _approx_distinct_users(spark, sf_dir):
    """ApproximateUnique (ApproximateUnique.java:85) — HLL++ sketch;
    rows-only check (sketch differs from DuckDB's)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return (ev | ApproximateUnique.per_key("event_type", "user_id",
                                           alias="approx_users")).df


def _quantiles_exact(spark, sf_dir):
    """Exact percentiles (interpolated) — portable across engines."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    pct = F.percentile(F.col("l_quantity"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (li | Combine.globally(pct.alias("__p__"))).select(
        F.round(F.col("__p__")[0], 6).alias("p25"),
        F.round(F.col("__p__")[1], 6).alias("p50"),
        F.round(F.col("__p__")[2], 6).alias("p75"),
    ).df


def _approx_quantiles(spark, sf_dir):
    """ApproximateQuantiles (ApproximateQuantiles.java:97) — GK sketch;
    rows-only check."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    return (li | ApproximateQuantiles.globally(
        "l_extendedprice", [0.25, 0.5, 0.75], alias="qs"
    )).select(
        F.col("qs")[0].alias("p25"), F.col("qs")[1].alias("p50"), F.col("qs")[2].alias("p75")
    ).df


def _sample_any(spark, sf_dir):
    """Sample.any(n) (Sample.java:74) — arbitrary n rows; rows-only."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    return (o | Sample.any(100)).select("o_orderkey").df


def _sample_deterministic(spark, sf_dir):
    """Sample.fixedSizeGlobally's verification twin: ordering by a
    cross-engine hash (md5) instead of rand() makes the 'random'
    100-row sample oracle-checkable while exercising the same
    order-and-limit plan shape (global top-k, not a full sort)."""
    o = load_table(spark, "orders", sf_dir)
    return (o.orderBy(F.md5(F.col("o_orderkey").cast("string").cast("binary")),
                      "o_orderkey")
            .limit(100).select("o_orderkey"))


def _join_inner(spark, sf_dir):
    """Join.innerJoin (join-library Join.java:48)."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    c = p.from_df(load_table(spark, "customer", sf_dir).withColumnRenamed("c_custkey", "o_custkey"))
    return o.apply(Join.inner(c, on="o_custkey", broadcast=True)) \
        .select("o_orderkey", "c_name").df


def _join_left_agg(spark, sf_dir):
    """Join.leftOuterJoin + null default (Join.java:94)."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    o = p.from_df(load_table(spark, "orders", sf_dir).withColumnRenamed("o_custkey", "c_custkey"))
    j = c.apply(Join.left_outer(o, on="c_custkey"))
    spend = F.coalesce(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), F.lit(0.0)
    ).alias("spend")
    return (j | Combine.per_key(
        "c_custkey",
        F.count("o_orderkey").alias("n_orders"),
        spend,
    )).df


def _join_right(spark, sf_dir):
    """Join.rightOuterJoin (Join.java:147)."""
    p = Pipeline(spark)
    n = p.from_df(load_table(spark, "nation", sf_dir).withColumnRenamed("n_regionkey", "r_regionkey"))
    r = p.from_df(load_table(spark, "region", sf_dir))
    return n.apply(Join.right_outer(r, on="r_regionkey")).select("r_name", "n_name").df


def _join_full(spark, sf_dir):
    """Join.fullOuterJoin (Join.java:201)."""
    p = Pipeline(spark)
    r = p.from_df(load_table(spark, "region", sf_dir).withColumnRenamed("r_regionkey", "k"))
    n = p.from_df(load_table(spark, "nation", sf_dir).withColumnRenamed("n_regionkey", "k"))
    return r.apply(Join.full_outer(n, on="k")).select("r_name", "n_name").df


def _join_semi(spark, sf_dir):
    """left-semi (free capability beyond reference, SURVEY §2.4)."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    o = p.from_df(load_table(spark, "orders", sf_dir).withColumnRenamed("o_custkey", "c_custkey"))
    return c.apply(Join.semi(o, on="c_custkey")).select("c_custkey").df


def _join_anti(spark, sf_dir):
    """Anti join with a non-empty result: customers with NO high-value
    (>400k) order.  (Every customer has SOME order in this data, so an
    unfiltered anti join would pass vacuously with zero rows.)"""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    o = p.from_df(load_table(spark, "orders", sf_dir)
                  .filter(F.col("o_totalprice") > 400000)
                  .withColumnRenamed("o_custkey", "c_custkey"))
    return c.apply(Join.anti(o, on="c_custkey")).select("c_custkey").df


def _star_join_revenue(spark, sf_dir):
    """Star-schema join with broadcast dims (side-input join pattern,
    View.java:216 / GameStats.java:122-142): revenue per region/nation."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir).withColumnRenamed("l_orderkey", "o_orderkey"))
    o = p.from_df(load_table(spark, "orders", sf_dir))
    c = p.from_df(load_table(spark, "customer", sf_dir).withColumnRenamed("c_custkey", "o_custkey"))
    n = p.from_df(load_table(spark, "nation", sf_dir).withColumnRenamed("n_nationkey", "c_nationkey"))
    r = p.from_df(load_table(spark, "region", sf_dir).withColumnRenamed("r_regionkey", "n_regionkey"))
    j = (li.apply(Join.inner(o, on="o_orderkey", broadcast=False))
         .apply(Join.inner(c, on="o_custkey", broadcast=True))
         .apply(Join.inner(n, on="c_nationkey", broadcast=True))
         .apply(Join.inner(r, on="n_regionkey", broadcast=True)))
    return (j | Combine.per_key(
        ["r_name", "n_name"],
        F.sum(_disc_price()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )).df


def _cogroup_by_key(spark, sf_dir):
    """CoGroupByKey (CoGroupByKey.java:74): per-key bags from two inputs."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir).withColumnRenamed("o_orderkey", "key"))
    li = p.from_df(load_table(spark, "lineitem", sf_dir).withColumnRenamed("l_orderkey", "key"))
    cg = o.apply(CoGroupByKey({"orders_bag": (o, "o_totalprice"),
                               "items_bag": (li, "l_extendedprice")}, key="key"))
    return cg.select(
        "key",
        F.size("orders_bag").alias("n_orders"),
        F.size("items_bag").alias("n_items"),
    ).df


def _flatten_union(spark, sf_dir):
    """Flatten.pCollections (Flatten.java:66)."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    lo = o.where("o_totalprice < 1000")
    hi = o.where("o_totalprice > 400000")
    return Flatten.pcollections([lo, hi]).select("o_orderkey", "o_totalprice").df


def _partition_branch(spark, sf_dir):
    """Partition.of(n, fn) (Partition.java:95) — branch 0 of 3."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    parts = Partition.by(o, 3, F.col("o_orderkey"))
    return parts[0].select("o_orderkey", "o_totalprice").df


def _kv_swap(spark, sf_dir):
    """WithKeys + KvSwap (WithKeys.java:66, KvSwap.java:56)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    kv = ev.apply(WithKeys(F.col("event_type"), name="key")) \
        .select("key", F.col("value"))
    return kv.apply(KvSwap()).df


def _tostring_kvs(spark, sf_dir):
    """ToString.kvs (ToString.java:52)."""
    p = Pipeline(spark)
    r = p.from_df(load_table(spark, "region", sf_dir))
    return r.apply(ToStringOp(cols=["r_regionkey", "r_name"], sep=",", alias="str")).df


def _regex_matches(spark, sf_dir):
    """Regex.matches group extraction (Regex.java:51-105)."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    return c.apply(Regex.matches("c_name", "Customer#(\\d+)", group=1, alias="cust_num")).df


def _regex_replace(spark, sf_dir):
    """Regex.replaceAll (Regex.java)."""
    p = Pipeline(spark)
    d = p.from_df(load_table(spark, "documents", sf_dir))
    rep = d.apply(Regex.replace_all("text", "\\bdata\\b", "DATA", alias="text2"))
    return rep.select("doc_id", "text2").df


def _json_extract(spark, sf_dir):
    """jackson extension ParseJsons equivalent (sdks/java/extensions/jackson)
    -> from_json/get_json_object."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    ).df


def _window_fixed(spark, sf_dir):
    """FixedWindows + windowed Combine (FixedWindows.java:36; GroupByKey
    honors windows — GroupByKey.java:203)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir)) \
        .with_event_time("ts") \
        .window_into(FixedWindows("1 hour"))
    agg = ev | Combine.per_key("event_type",
                               F.count(F.lit(1)).alias("n"),
                               _dsum("value", "total"))
    return agg.select(
        F.col("window.start").alias("ws"), "event_type", "n", "total"
    ).df


def _window_sliding(spark, sf_dir):
    """SlidingWindows (SlidingWindows.java:43): 1h size / 30m period."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir)) \
        .with_event_time("ts") \
        .window_into(SlidingWindows("1 hour", "30 minutes"))
    agg = ev | Combine.globally(F.count(F.lit(1)).alias("n"))
    return agg.select(F.col("window.start").alias("ws"), "n").df


def _window_session(spark, sf_dir):
    """Sessions.withGapDuration (Sessions.java:40): 10m gap per user."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir)) \
        .with_event_time("ts") \
        .window_into(Sessions("10 minutes"))
    agg = ev | Combine.per_key("user_id", F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "user_id", F.col("window.start").alias("session_start"), "n_events"
    ).df


def _window_session_dynamic(spark, sf_dir):
    """DYNAMIC-GAP session windows — a capability UPGRADE over the
    reference, whose ``Sessions.withGapDuration`` (Sessions.java:40)
    is constant-gap only: Spark's native ``session_window`` accepts a
    per-row gap EXPRESSION, so each event extends its session by a
    gap chosen from its own attributes (here per event_type:
    purchase 30 min, view 5 min, else 10 min — e.g. a purchase
    signals longer engagement).  Sessions are the union-merge of the
    per-event proto-windows [ts, ts + gap(event)) under Spark's
    merge-touching convention (the `window_session` boundary);
    ``session_end`` = max(ts + gap) over the session pins the dynamic
    gap itself, not just the grouping.  Oracle: variable-gap
    gaps-and-islands — a new island iff ts exceeds the running
    MAX(prev ts + prev gap)."""
    ev = (load_table(spark, "events", sf_dir)
          .select("user_id", "event_type",
                  F.col("ts").cast("timestamp").alias("ts")))
    gap = (F.when(F.col("event_type") == "purchase", F.lit("30 minutes"))
           .when(F.col("event_type") == "view", F.lit("5 minutes"))
           .otherwise(F.lit("10 minutes")))
    return (ev.groupBy(F.session_window(F.col("ts"), gap).alias("window"),
                       "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("window.start").alias("session_start"),
                    F.col("window.end").alias("session_end"),
                    "n_events"))


def _window_session_strict(spark, sf_dir):
    """Sessions with EXACT reference boundary semantics
    (Sessions.java:40 + IntervalWindow.isDisjoint: end == other.start
    is DISJOINT, so two events exactly one gap apart stay in SEPARATE
    sessions) — the opt-in Beam-parity twin of `window_session`, which
    follows Spark's session_window convention of merging the exact-gap
    pair.  Batch realization: windowing.Sessions(gap,
    strict_gap=True).apply (merge_intervals with a strict island
    split); streaming twin streaming_sessions_strict is
    boundary+parity-pinned in tests/test_strict_sessions.py.  The
    oracle is the same gaps-and-islands SQL as window_session with >=
    in place of > at the split."""
    from apache_beam_spark.windowing import (Sessions as _S,
                                             ensure_event_time)

    ev = ensure_event_time(
        load_table(spark, "events", sf_dir).select("user_id", "ts"), "ts")
    w = _S("10 minutes", strict_gap=True).apply(ev, ["user_id"], "ts")
    return (w.groupBy("user_id", "window")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("window.start").alias("session_start"),
                    "n_events"))


def _window_calendar_month(spark, sf_dir):
    """CalendarWindows.months (CalendarWindows.java) via date_trunc."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir)) \
        .with_event_time("o_orderdate") \
        .window_into(CalendarWindows("month"))
    agg = o | Combine.globally(F.count(F.lit(1)).alias("n_orders"),
                               _dsum("o_totalprice", "total"))
    return agg.select(F.col("window.start").alias("month"), "n_orders", "total").df


def _group_into_batches(spark, sf_dir):
    """GroupIntoBatches.ofSize (GroupIntoBatches.java:79) — batch sizes
    are deterministic (contents arbitrary)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    g = ev.apply(GroupIntoBatches(10, keys="user_id", value="event_id", alias="batch"))
    return g.select("user_id", F.size("batch").alias("batch_size")).df


def _text_stats(spark, sf_dir):
    """Text analysis: char/token counts, mean word length."""
    p = Pipeline(spark)
    d = p.from_df(load_table(spark, "documents", sf_dir))
    w = T.word_tokens(F.col("text"))
    total_len = F.aggregate(w, F.lit(0), lambda acc, t: acc + F.length(t))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(w).alias("n_tokens"),
        F.round(total_len / F.size(w), 6).alias("mean_word_len"),
    ).df


def _quality_score(spark, sf_dir):
    """Composite [0,1] document quality heuristic (functions/text.py quality_score — gopher-rules style), modeled identically in the oracle."""
    p = Pipeline(spark)
    d = p.from_df(load_table(spark, "documents", sf_dir))
    return d.select("doc_id", T.quality_score(F.col("text")).alias("q")).df


def _lang_id(spark, sf_dir):
    """Stopword-marker language ID over a closed language set (functions/text.py lang_id), modeled identically in the oracle."""
    p = Pipeline(spark)
    d = p.from_df(load_table(spark, "documents", sf_dir))
    return d.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred")).df


def _fingerprint_docs(spark, sf_dir):
    """Document fingerprinting: md5 of normalized text."""
    p = Pipeline(spark)
    d = p.from_df(load_table(spark, "documents", sf_dir))
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).df


def _pii_injected_docs(spark, sf_dir):
    """documents with deterministic doc_id-derived PII appended — the
    corpus text is synthetic word soup, so the scrub demo composes an
    injection step (pure Column concat) with the scrubber."""
    return load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com call 555-867-5309 host 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789"))
             .otherwise(F.lit("")),
        ).alias("text"))


def _pii_scrub(spark, sf_dir):
    """PII masking + per-kind counts (functions/pii.py): email / SSN /
    phone / IPv4, all regexp_replace+regexp_count Column expressions —
    JVM codegen, no Python row path, runs at scan speed."""
    from apache_beam_spark.functions.pii import pii_count, scrub_pii

    t = F.col("text")
    return _pii_injected_docs(spark, sf_dir).select(
        "doc_id",
        pii_count(t, "email").cast("bigint").alias("n_email"),
        pii_count(t, "phone").cast("bigint").alias("n_phone"),
        pii_count(t, "ipv4").cast("bigint").alias("n_ip"),
        pii_count(t, "ssn").cast("bigint").alias("n_ssn"),
        scrub_pii(t).alias("scrubbed"),
    )


def _pii_scrub_oracle_sql() -> str:
    """DuckDB twin: identical RE2-compatible patterns, same injection."""
    from apache_beam_spark.functions.pii import PII_PATTERNS

    scrub = "text"
    for pat, tok in PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '{tok}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{PII_PATTERNS[k][0]}')) AS BIGINT)"
        f" AS n_{a}"
        for k, a in [("email", "email"), ("phone", "phone"),
                     ("ipv4", "ip"), ("ssn", "ssn")])
    return f"""
        WITH inj AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com call 555-867-5309 host 10.0.'
                        || CAST(doc_id % 256 AS VARCHAR) || '.7'
                        || CASE WHEN doc_id % 3 = 0
                                THEN ' ssn 123-45-6789' ELSE '' END AS text
            FROM documents)
        SELECT doc_id, {counts}, {scrub} AS scrubbed FROM inj"""


def _dedup_exact(spark, sf_dir):
    """Exact dedup: min-id witness per normalized text."""
    return exact_dedup(load_table(spark, "documents", sf_dir)).select("doc_id")


def _dedup_minhash(spark, sf_dir):
    """MinHash LSH near-dedup — rows-only (engine-specific xxhash64;
    survives as the production fast path because xxhash64 is one
    JVM-codegen call where md5 is hash+hex+substring+conv; correctness
    rides the oracled `dedup_minhash_md5` twin plus the kept-set-size
    pin in tests/test_twin_parity.py)."""
    return minhash_lsh_dedup(
        load_table(spark, "documents", sf_dir),
        num_hashes=64, num_bands=16, shingle_k=3,
    ).select("doc_id")


def _dedup_minhash_md5(spark, sf_dir):
    """MinHash LSH dedup, md5-hash variant: every hash is an md5 hex
    substring, so DuckDB reproduces the EXACT kept-set — the oracle-
    checked proof of the LSH pipeline (shingle -> per-hash min -> band
    key -> bucket-min keep rule) that the fast xxhash64 twin
    (dedup_minhash) can't give."""
    from apache_beam_spark.dedup.minhash import minhash_dedup_md5

    return minhash_dedup_md5(
        load_table(spark, "documents", sf_dir),
        num_hashes=64, num_bands=16, shingle_k=3)


def _stream_minhash_dedup(spark, sf_dir):
    """Streaming MinHash near-dup dedup run END-TO-END inside the query
    (streaming/stateful.py::streaming_minhash_dedup, md5 variant): a
    three-wave replay — originals, then one-word-perturbed near-dups
    (id+10000), then exact copies (id+20000) — through the chained
    stateful plan (stateless md5 signature + band Column HOFs ->
    dropDuplicatesWithinWatermark(band,bh) -> per-(window,doc)
    owned-all-buckets count), plus two watermark-advancing tails that
    close the waves' window.  The keep rule (a doc survives iff it is
    FIRST ARRIVAL in every band bucket it occupies) is fully modeled in
    DuckDB because the md5 signature is cross-engine deterministic and
    arrival order == wave order (id div 10000).  Determinism inside a
    wave needs bucket-disjoint batches (first arrival within one
    micro-batch is partition-order luck), and the corpus PLANTS
    near-dups — so the base set deterministically EXCLUDES any doc
    under 40 that shares a band bucket with another (computed
    identically here and in the oracle from the same md5 bands;
    perturbed/copy waves inherit the exclusion, and the residual
    disjointness of all three waves is asserted per-SF in
    tests/test_streaming_minhash.py).  Exact copies lose every bucket;
    near-dups lose the buckets they still share — both the Spark
    stream and the oracle compute which, with no probabilistic
    assumptions."""
    import tempfile

    from apache_beam_spark.dedup.minhash import (_band_rows_md5,
                                                 minhash_signature_md5)
    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)
    from apache_beam_spark.streaming.stateful import streaming_minhash_dedup

    d40 = (load_table(spark, "documents", sf_dir)
           .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    b0 = (d40.select("doc_id",
                     minhash_signature_md5(F.col("text"), 64, 3).alias("s"))
          .select("doc_id", F.explode(_band_rows_md5("s", 16, 4)).alias("b"))
          .select("doc_id", "b.band", "b.bh"))
    coll = (b0.alias("x").join(
        b0.alias("y"),
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bh") == F.col("y.bh"))
        & (F.col("x.doc_id") != F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_id")).distinct())
    base = [(int(r["doc_id"]), r["text"]) for r in
            d40.join(coll, "doc_id", "left_anti")
            .select("doc_id", "text").orderBy("doc_id").collect()]
    m = 60_000_000  # one minute in µs (TestStream ts convention)
    t0 = 24 * 60 * m
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sminhash_"))
    ts.add_elements([{"doc_id": i, "ts": t0, "text": t}
                     for i, t in base])
    ts.add_elements([{"doc_id": i + 10000, "ts": t0 + m,
                      "text": t + " zzz"} for i, t in base])
    ts.add_elements([{"doc_id": i + 20000, "ts": t0 + 2 * m, "text": t}
                     for i, t in base])
    ts.add_elements([{"doc_id": 90000, "ts": t0 + 60 * m,
                      "text": "watermark tail alpha"}])
    ts.add_elements([{"doc_id": 90001, "ts": t0 + 120 * m,
                      "text": "watermark tail omega"}])
    sdf = streaming_minhash_dedup(
        ts.stream(spark, "doc_id bigint, ts bigint, text string"),
        within="10 minutes", num_hashes=64, num_bands=16, shingle_k=3,
        hash_fn="md5")
    # state partitions are fixed at the query's FIRST run; under the
    # driver's default 200 the five micro-batches pay 200 state-store
    # commits each for ~120 docs — scope it down for the replay
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.filter(F.col("doc_id") < 90000).select("doc_id")


def _stream_heavy_hitters_exact(spark, sf_dir):
    """Streaming windowed heavy hitters run END-TO-END inside the
    query (streaming/heavy.py::streaming_heavy_hitters, the sharded
    Misra-Gries path): every 5th event replays through TestStream in
    one data wave plus a watermark tail that closes all
    6-hour windows.  With ``capacity`` (64) >= the stream's distinct
    item count (~5 event types) the MG summary degenerates to EXACT
    counting, so the emitted (window, item, count >= 5) rows are
    fully SQL-expressible: the oracle is a plain windowed
    GROUP BY/HAVING.  Counts are additive, so the result is
    deterministic regardless of partition order — the second REAL
    streaming query under the value-oracle gate (after
    stream_minhash_dedup)."""
    import tempfile

    from apache_beam_spark.streaming.heavy import streaming_heavy_hitters
    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)

    # ts arrives as TIMESTAMP_NTZ (load_table's nanos handling):
    # unix_micros matches the oracle's epoch_us(ts::TIMESTAMP)
    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("event_id") % 5 == 0)
          .select(F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus"), "event_type"))
    rows = [(int(r["tus"]), r["event_type"]) for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sheavy_"))
    ts.add_elements([{"ts": t, "event_type": et} for t, et in rows])
    tail = max(t for t, _ in rows) + 7 * 24 * 3600 * 1_000_000
    ts.add_elements([{"ts": tail, "event_type": "zz_watermark_tail"}])
    sdf = streaming_heavy_hitters(
        ts.stream(spark, "ts bigint, event_type string"),
        "event_type", window_ms=6 * 60 * 60_000, capacity=64,
        min_count=5, n_shards=4)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.select("window_start", "item", "approx_count")


def _stream_funnel_exact(spark, sf_dir):
    """Streaming funnel run END-TO-END inside the query
    (streaming/sequences.py::streaming_funnel, the sharded path):
    step-typed events replay through TestStream in one data wave (the
    watermark is 0 during it, so nothing is late) plus a tail that
    seals every buffered chain.  Matching is event-time-ordered with
    an event-id tie-break — arrival order cannot perturb it — and the
    batch/stream parity is pinned in tests/test_streaming_funnel.py,
    so the completed chains answer to the same SQL as the batch
    funnel (view -> earliest click within 1 day -> earliest purchase
    within 1 day), value-oracled with epoch-microsecond outputs."""
    import tempfile

    from apache_beam_spark.streaming import streaming_funnel
    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("event_type").isin("view", "click", "purchase")
                  & (F.col("user_id") < 200))
          .select("event_id", "user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("ts"), "event_type"))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sfunnel_"))
    ts.add_elements(rows)
    tail = max(r["ts"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"event_id": 900000001, "user_id": 999999,
                      "ts": tail, "event_type": "view"}])
    sdf = streaming_funnel(
        ts.stream(spark, "event_id bigint, user_id bigint, ts bigint,"
                         " event_type string"),
        ["view", "click", "purchase"], within_ms=24 * 60 * 60_000,
        n_shards=8)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("user_id") < 200)
            .select("user_id", "view_ts", "click_ts", "purchase_ts"))


def _stream_session_dynamic_exact(spark, sf_dir):
    """STREAMING twin of `window_session_dynamic` — Spark's native
    ``session_window`` with a PER-ROW GAP EXPRESSION (purchase 30 min /
    view 5 min / else 10 min) running as merging session state inside
    a streaming aggregation, over the `stream_session_exact` replay
    shape (one data wave, user_id < 200, plus a watermark tail that
    closes every open session).  Session bounds are the merged union
    of per-event [ts, ts + gap(event)) proto-windows — event-time-
    determined, so arrival order cannot perturb the result — and
    ``session_end`` = max(ts + gap) pins the dynamic gap through the
    streaming state path too.  Answers to the same variable-gap
    gaps-and-islands CTE as the batch twin: the NINETEENTH streaming
    value-oracle entry, proving the dynamic-gap capability holds on
    unbounded input (the reference's Sessions is constant-gap —
    capability upgrade, not parity debt)."""
    import tempfile

    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 200)
          .select("user_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_ssessdyn_"))
    ts.add_elements(rows)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"user_id": 999999, "event_type": "zz_tail",
                      "tus": tail}])
    gap = (F.when(F.col("event_type") == "purchase", F.lit("30 minutes"))
           .when(F.col("event_type") == "view", F.lit("5 minutes"))
           .otherwise(F.lit("10 minutes")))
    sdf = (ts.stream(spark, "user_id bigint, event_type string, tus bigint")
           .select("user_id", "event_type",
                   F.timestamp_micros("tus").alias("ts"))
           .withWatermark("ts", "10 minutes")
           .groupBy("user_id",
                    F.session_window("ts", gap).alias("session_window"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("user_id") != 999999)
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events"))


def _stream_session_exact(spark, sf_dir):
    """Streaming SESSION-WINDOW aggregation run END-TO-END inside the
    query — Spark's native ``session_window`` (gap-merging streaming
    state) over a TestStream replay of the real event stream
    (user_id < 200), one data wave plus a watermark tail that closes
    every open session.  Session bounds are EVENT-TIME-determined
    (the merged union of per-event [ts, ts+gap] intervals; probe-
    verified: Spark merges at exact-gap adjacency, end = last event
    ts + gap) and counts are additive, so arrival/partition order
    cannot perturb the result and the emitted (user_id, session_start,
    session_end, n_events) rows answer to the classic gaps-and-islands
    CTE in DuckDB — the FOURTH real streaming query under the
    value-oracle gate, covering the one stateful-streaming family
    (merging session state) the first three don't.  Batch twin:
    `window_session` (same gap, Sessions windowing); parity pinned in
    tests/test_streaming_session.py.  NOTE the documented boundary
    divergence from the Beam reference (windowing.Sessions docstring):
    Spark merges sessions at EXACT-gap adjacency where Beam's
    IntervalWindow.isDisjoint keeps them separate — this query, its
    batch twin, and the oracle's strict '>' all follow the Spark
    convention."""
    import tempfile

    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 200)
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_ssession_"))
    ts.add_elements(rows)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"user_id": 999999, "tus": tail}])
    sdf = (ts.stream(spark, "user_id bigint, tus bigint")
           .select("user_id", F.timestamp_micros("tus").alias("ts"))
           .withWatermark("ts", "10 minutes")
           .groupBy("user_id", F.session_window("ts", "10 minutes"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("user_id") < 200)
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events"))


def _stream_session_strict_exact(spark, sf_dir):
    """STRICT-GAP streaming sessions run END-TO-END inside the query —
    streaming_sessions_strict (streaming/stateful.py: per-key open-
    session state via applyInPandasWithState + EventTimeTimeout, the
    r11 Beam-parity operator) over a TestStream replay of the real
    event stream (user_id < 200), one data wave plus a watermark tail
    that closes every session.  Under STRICT semantics
    (IntervalWindow.isDisjoint: end == start stays disjoint) a session
    closes exactly when the watermark reaches its end, so the emitted
    set is total and answers to the gaps-and-islands CTE with >= at
    the split — the TENTH real streaming query under the value-oracle
    gate and the first to oracle a NEW-in-r11 operator end-to-end
    (batch twin: `window_session_strict`; exact-gap boundary and
    batch/stream parity pinned in tests/test_strict_sessions.py).
    The tail user's own session never closes (nothing advances the
    watermark past it) and is additionally filtered out."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.stateful import (
        streaming_sessions_strict)
    from apache_beam_spark.streaming.windowed import run_to_memory

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 200)
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sstrictsess_"))
    ts.add_elements(rows)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"user_id": 999999, "tus": tail}])
    sdf = streaming_sessions_strict(
        ts.stream(spark, "user_id bigint, tus bigint")
        .select("user_id", F.timestamp_micros("tus").alias("ts")),
        "user_id", "ts", gap_ms=10 * 60_000)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("user_id") != "999999")
            .select("user_id", "session_start_ms", "session_end_ms",
                    "n_events"))


def _stream_session_late_exact(spark, sf_dir):
    """Strict-gap streaming sessions under a SEQUENCED late wave —
    extends the `stream_dedup_late_exact` discipline (the only family
    whose late-DROP contract was under the driver gate, VERDICT r11
    item 7) to the custom applyInPandasWithState state family.  Wave 1
    spools the on-time events (user_id < 200, user_id % 5 != 0 — a
    modulo split so both waves are non-empty at every SF), then a
    watermark tail 30 days ahead closes every session; wave 2 re-sends
    every wave-1 row PLUS the disjoint user_id % 5 == 0 set — by then
    the watermark sits past every real event time, so the stateful
    operator's pre-state late filter must drop the ENTIRE second wave.
    A leak is doubly visible: a % 5 == 0 user appearing in the output
    breaks the hash outright, and a re-sent % 5 != 0 row would re-open
    an already-evicted session whose flush (the watermark is already
    past its end, so the EventTimeTimeout fires on the next no-data
    batch) adds rows the count check catches.  The emitted set is
    therefore exactly the strict-gap gaps-and-islands sessions of the
    wave-1 rows.  Run sequenced (run_to_memory, one spooled file per
    micro-batch) so the watermark genuinely advances BETWEEN waves."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.stateful import (
        streaming_sessions_strict)
    from apache_beam_spark.streaming.windowed import run_to_memory

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 200)
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ontime = [r for r in rows if r["user_id"] % 5 != 0]
    late_only = [r for r in rows if r["user_id"] % 5 == 0]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_ssesslate_"))
    ts.add_elements(ontime)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"user_id": 999999, "tus": tail}])
    ts.add_elements(late_only + ontime)   # ALL late by now
    sdf = streaming_sessions_strict(
        ts.stream(spark, "user_id bigint, tus bigint")
        .select("user_id", F.timestamp_micros("tus").alias("ts")),
        "user_id", "ts", gap_ms=10 * 60_000)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("user_id") != "999999")
            .select("user_id", "session_start_ms", "session_end_ms",
                    "n_events"))


def _stream_join_exact(spark, sf_dir):
    """Stream-stream TIME-INTERVAL JOIN run END-TO-END inside the
    query — Spark's symmetric-hash streaming join (watermarked on BOTH
    sides, time-range condition bounding the buffered state) over a
    TestStream replay of the real event stream: every view joined to
    every purchase by the same user within the following day.  An
    INNER interval join has no "first match" semantics — the complete
    pair set is emitted no matter how arrival interleaves with the
    watermark — so the output is deterministic and answers to a plain
    SQL range join, making this the FIFTH real streaming query under
    the value-oracle gate and the first to oracle the stream-stream
    JOIN state family (the bench gate `stream_join_events_per_sec`
    measures the same operator's throughput).  One data wave (the
    watermark is 0 during it, so nothing is dropped as late) plus a
    tail that lets state evict; the tail rows join only each other
    and are filtered out by user_id.  Reference parity: the join-
    library CoGBK-based inner join (`sdks/java/extensions/join-library
    /.../Join.java`) on windowed unbounded inputs."""
    import tempfile

    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 150)
          .filter(F.col("event_type").isin("view", "purchase"))
          .select("event_id", "user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus"), "event_type"))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sjoin_"))
    ts.add_elements(rows)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([
        {"event_id": 900000001, "user_id": 999999, "tus": tail,
         "event_type": "view"},
        {"event_id": 900000002, "user_id": 999999, "tus": tail,
         "event_type": "purchase"}])
    src = (ts.stream(spark, "event_id bigint, user_id bigint,"
                            " tus bigint, event_type string")
           .select("event_id", "user_id",
                   F.timestamp_micros("tus").alias("ts"), "event_type"))
    v = (src.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"),
                 F.col("event_id").alias("view_id"),
                 F.col("ts").alias("vts"))
         .withWatermark("vts", "10 minutes"))
    p = (src.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("pts"))
         .withWatermark("pts", "10 minutes"))
    j = v.join(
        p, (F.col("v_user") == F.col("p_user"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("interval 1 day")),
        "inner")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(j)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("v_user") < 150)
            .select(F.col("v_user").alias("user_id"), "view_id",
                    "purchase_id",
                    F.unix_micros("vts").alias("view_us"),
                    F.unix_micros("pts").alias("purchase_us")))


def _stream_join_late_exact(spark, sf_dir):
    """Stream-stream interval join under a SEQUENCED late wave — the
    late-DROP contract of Spark's symmetric-hash join state family
    under the value-oracle gate (completing VERDICT r11 item 7 for
    BOTH suggested families).  Wave 1 spools the on-time view/purchase
    events (user_id < 150, user_id % 5 != 0); two watermark tails 30
    and 31 days ahead advance both sides' watermarks ACROSS two
    micro-batches (the join's pre-buffer late filter, like the
    stateful operators', evaluates against the previous batch's
    watermark — the second tail makes the lagged bound itself sit past
    every real event); wave 3 re-sends every wave-1 row PLUS the
    disjoint user_id % 5 == 0 set.  By then both join buffers have
    evicted their real rows and every wave-3 row is late, so ANY pair
    involving a wave-3 row — late view x buffered purchase, or the
    late x late pairs the re-sent wave would form with itself — would
    add rows the hash check catches.  The emitted pair set is exactly
    the SQL range join over the on-time subset.  Run sequenced
    (run_to_memory) so the watermark genuinely advances between
    waves."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.windowed import run_to_memory

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 150)
          .filter(F.col("event_type").isin("view", "purchase"))
          .select("event_id", "user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus"), "event_type"))
    rows = [r.asDict() for r in ev.collect()]
    ontime = [r for r in rows if r["user_id"] % 5 != 0]
    late_only = [r for r in rows if r["user_id"] % 5 == 0]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sjoinlate_"))
    ts.add_elements(ontime)
    day_us = 24 * 3600 * 1_000_000
    tail = max(r["tus"] for r in rows) + 30 * day_us
    for j, t in enumerate((tail, tail + day_us)):
        ts.add_elements([
            {"event_id": 900000001 + 10 * j, "user_id": 999999,
             "tus": t, "event_type": "view"},
            {"event_id": 900000002 + 10 * j, "user_id": 999999,
             "tus": t, "event_type": "purchase"}])
    ts.add_elements(late_only + ontime)   # ALL late by now
    src = (ts.stream(spark, "event_id bigint, user_id bigint,"
                            " tus bigint, event_type string")
           .select("event_id", "user_id",
                   F.timestamp_micros("tus").alias("ts"), "event_type"))
    v = (src.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"),
                 F.col("event_id").alias("view_id"),
                 F.col("ts").alias("vts"))
         .withWatermark("vts", "10 minutes"))
    p = (src.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("pts"))
         .withWatermark("pts", "10 minutes"))
    j = v.join(
        p, (F.col("v_user") == F.col("p_user"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("interval 1 day")),
        "inner")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(j)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("v_user") < 150)
            .select(F.col("v_user").alias("user_id"), "view_id",
                    "purchase_id",
                    F.unix_micros("vts").alias("view_us"),
                    F.unix_micros("pts").alias("purchase_us")))


def _stream_dedup_exact(spark, sf_dir):
    """Streaming EXACT dedup run END-TO-END inside the query —
    ``streaming_distinct`` (streaming/stateful.py, Spark's
    ``dropDuplicatesWithinWatermark`` state) over a TestStream replay
    in which EVERY event row is spooled twice in the data wave, so the
    operator genuinely drops half its input.  Only the dedup key
    (event_id) is projected, so which physical duplicate survives
    cannot perturb the result: the emitted set is exactly the distinct
    event_ids, a plain SELECT DISTINCT — the SIXTH real streaming
    query under the value-oracle gate, covering the watermark-bounded
    exact-dedup state family (the bench gate
    `stream_dedup_events_per_sec` measures the same operator's
    throughput; reference parity: ``transforms/Distinct.java`` on an
    unbounded input)."""
    import tempfile

    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)
    from apache_beam_spark.streaming.stateful import streaming_distinct

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 400)
          .select("event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sdedup_"))
    ts.add_elements(rows + rows)      # every id arrives twice
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"event_id": 900000001, "tus": tail}])
    sdf = streaming_distinct(
        ts.stream(spark, "event_id bigint, tus bigint")
        .select("event_id", F.timestamp_micros("tus").alias("ts")),
        ["event_id"], "ts", within="10 minutes")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("event_id") < 900000000)
            .select("event_id"))


def _stream_dedup_late_exact(spark, sf_dir):
    """Streaming dedup with a SEQUENCED two-wave replay that puts the
    LATE-DATA-DROP contract itself under the value-oracle gate
    (VERDICT r10 item 5 — the single-wave `stream_dedup_exact` proves
    the distinct set; this proves what the watermark REJECTS).  Wave 1
    spools the on-time events (user_id < 200, every row twice so the
    dedup state genuinely drops half) and then a watermark-advancing
    tail 30 days ahead; wave 2 re-sends every wave-1 row PLUS a
    DISJOINT set of never-seen events (user_id % 5 == 0 — a modulo
    split so both waves are non-empty at EVERY scale factor) — by
    then the watermark sits 30 days past every real event time, so
    Spark's pre-state late filter drops the ENTIRE second wave.  Run
    with the default trigger (one spooled file per micro-batch, the
    TestStream contract) so the watermark genuinely advances BETWEEN
    waves — availableNow would coalesce them (the documented
    read_bounded caveat).  The emitted set is therefore exactly
    SELECT DISTINCT event_id over the wave-1 rows; any wave-2-only
    id (user_id % 5 == 0) appearing in the output would be a
    late-drop violation the hash check catches."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.stateful import streaming_distinct
    from apache_beam_spark.streaming.windowed import run_to_memory

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 500)
          .select("user_id", "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ontime = [{"event_id": r["event_id"], "tus": r["tus"]}
              for r in rows if r["user_id"] % 5 != 0]
    late_only = [{"event_id": r["event_id"], "tus": r["tus"]}
                 for r in rows if r["user_id"] % 5 == 0]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sdeduplate_"))
    ts.add_elements(ontime + ontime)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"event_id": 900000001, "tus": tail}])
    ts.add_elements(late_only + ontime)   # ALL late by now
    sdf = streaming_distinct(
        ts.stream(spark, "event_id bigint, tus bigint")
        .select("event_id", F.timestamp_micros("tus").alias("ts")),
        ["event_id"], "ts", within="10 minutes")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("event_id") < 900000000)
            .select("event_id"))


def _stream_window_count_exact(spark, sf_dir):
    """Streaming FIXED-WINDOW aggregation run END-TO-END inside the
    query (streaming/windowed.py::windowed_aggregate — the batch AND
    streaming code path behind window_fixed and the
    `streaming_events_per_sec` gate): hourly per-type counts over a
    TestStream replay, one data wave plus a watermark tail that closes
    every window.  Counts are additive and window assignment is a pure
    function of event time, so the emitted (window, event_type, n)
    rows answer to a plain GROUP BY — the EIGHTH real streaming query
    under the value-oracle gate, closing the last bench gate family
    (windowed count) that had no oracled exact twin."""
    import tempfile

    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)
    from apache_beam_spark.streaming.windowed import windowed_aggregate
    from apache_beam_spark.windowing import FixedWindows

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 1000)   # deterministic subset so
          # the TestStream spool (a driver-side collect by design)
          # stays bounded at larger SFs, like the other stream_*_exact
          # entries; the oracle filters identically.
          .select(F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus"), "event_type"))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_swindow_"))
    ts.add_elements(rows)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"tus": tail, "event_type": "zz_watermark_tail"}])
    sdf = windowed_aggregate(
        ts.stream(spark, "tus bigint, event_type string")
        .select(F.timestamp_micros("tus").alias("ts"), "event_type"),
        FixedWindows("1 hour"), "ts",
        aggs=[F.count(F.lit(1)).alias("n")], keys=["event_type"],
        allowed_lateness="10 minutes")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("event_type") != "zz_watermark_tail")
            .select(F.col("window.start").alias("window_start"),
                    "event_type", "n"))


def _stream_window_late_exact(spark, sf_dir):
    """ALLOWED-LATENESS > 0 on the NATIVE streaming windowed-agg path
    (VERDICT r12 item 2 — every prior stream_*_exact contract was
    exact-drop at lateness 0): per-(event_type, 1-day-window) counts
    with a 32-day allowed lateness over a SEQUENCED THREE-WAVE replay.

    Wave 1 (event_id % 3 != 0) arrives on time; a watermark tail then
    lands the watermark exactly between the two halves' expiry times
    (end + lateness), so first-half windows (end <= the mid-range
    split M) FINALIZE with their wave-1 counts while second-half
    windows stay open; wave 2 (event_id % 3 = 0, windows ending after
    M) is late-but-ADMISSIBLE — within lateness, it must MERGE into
    the still-open windows; wave 3 (event_id % 3 = 0, windows ending
    at or before M) is BEYOND lateness — its windows' end + lateness
    sits at or before the watermark, so every row must be dropped
    (LateDataDroppingDoFnRunner.java:48; Window.withAllowedLateness
    :292).  With delay = lateness, Spark's append-mode finalize time
    (end + delay <= watermark) IS Beam's window-expiry time, so the
    native state eviction realizes the reference lateness contract
    exactly: admitted and dropped sets are both pinned by the count
    hash — one leaked wave-3 row re-opens a finalized window and adds
    a duplicate (window, key) row; one dropped wave-2 row breaks a
    count.  The EIGHTEENTH streaming value-oracle entry and the first
    THREE-WAVE lateness contract."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.windowed import (run_to_memory,
                                                      windowed_aggregate)
    from apache_beam_spark.windowing import FixedWindows

    DAY_US = 86_400_000_000
    LATENESS_DAYS = 32   # > the events span: the delayed watermark
    # still sits before wave 2's oldest element when it arrives, so
    # Spark's pre-state filter admits the whole admissible wave
    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 1000)   # bounded spool (see
          # _stream_window_count_exact)
          .select(F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus"), "event_type", "event_id"))
    rows = [r.asDict() for r in ev.collect()]
    d0 = min(r["tus"] for r in rows) // DAY_US
    d1 = max(r["tus"] for r in rows) // DAY_US
    m_us = ((d0 + d1) // 2 + 1) * DAY_US   # expiry split M
    lateness_us = LATENESS_DAYS * DAY_US

    def wend(r):
        return (r["tus"] // DAY_US + 1) * DAY_US

    wave1 = [r for r in rows if r["event_id"] % 3 != 0]
    late = [r for r in rows if r["event_id"] % 3 == 0]
    wave2 = [r for r in late if wend(r) > m_us]    # within lateness
    wave3 = [r for r in late if wend(r) <= m_us]   # beyond lateness
    t1 = m_us + 2 * lateness_us   # watermark after tail = M + lateness
    t2 = t1 + 2 * lateness_us     # past every open window's expiry
    ts = TestStream(tempfile.mkdtemp(prefix="entry_swinlate_"))
    ts.add_elements(wave1)
    ts.add_elements([{"tus": t1, "event_type": "zz_watermark_tail",
                      "event_id": 0}])
    ts.add_elements(wave2)
    ts.add_elements(wave3)
    ts.add_elements([{"tus": t2, "event_type": "zz_watermark_tail",
                      "event_id": 0}])
    sdf = windowed_aggregate(
        ts.stream(spark, "tus bigint, event_type string, event_id bigint")
        .select(F.timestamp_micros("tus").alias("ts"), "event_type"),
        FixedWindows("1 day"), "ts",
        aggs=[F.count(F.lit(1)).alias("n")], keys=["event_type"],
        allowed_lateness=f"{LATENESS_DAYS} days")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(sdf)   # sequenced: the watermark must
        # genuinely advance BETWEEN waves (availableNow coalesces)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("event_type") != "zz_watermark_tail")
            .select(F.col("window.start").alias("window_start"),
                    "event_type", "n"))


def _stream_rate_limit_exact(spark, sf_dir):
    """Streaming per-key rate limiting run END-TO-END inside the query
    (streaming/stateful.py::streaming_rate_limit, the sharded
    applyInPandasWithState token bucket): the real event stream
    (user_id < 300) replays through TestStream in one data wave;
    admission within a batch is (event-time, event_id)-ordered per
    key, so the admitted set is exactly ROW_NUMBER() <= max per
    (key, window) — plain SQL; the day window admits ~2 of ~2.2
    events per user-day, so the limiter genuinely DROPS load — making
    this the SEVENTH real streaming
    query under the value-oracle gate and the first over the custom
    applyInPandasWithState state family (the others oracle native
    joins/aggregations/dedup; the bench gate
    `stream_rate_limit_events_per_sec` measures this operator's
    throughput).  Batch twin: rate_limit_batch (parity-tested in
    tests/test_rate_limit.py)."""
    import tempfile

    from apache_beam_spark.streaming.sources import (TestStream,
                                                     read_bounded)
    from apache_beam_spark.streaming.stateful import streaming_rate_limit

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 300)
          .select("event_id", "user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_sratelimit_"))
    ts.add_elements(rows)
    sdf = streaming_rate_limit(
        ts.stream(spark, "event_id bigint, user_id bigint, tus bigint")
        .select("event_id", "user_id",
                F.timestamp_micros("tus").alias("ts")),
        key="user_id", event_time="ts", id_col="event_id",
        window_ms=86_400_000, max_per_window=2, n_shards=8)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.select("user_id", "event_id", "ts_ms",
                      "win_start_ms", "seq")


def _stream_trigger_exact(spark, sf_dir, accumulating=True,
                          trigger_fn=None, **tws_kwargs):
    """The TRIGGER/PANE tier run END-TO-END inside the query — the
    last SURVEY §2 family that had only pytest evidence (VERDICT r11
    item 1).  ``triggered_windowed_sum`` (streaming/triggers.py) drives
    ``AfterWatermark.pastEndOfWindow().withEarlyFirings(
    AfterPane.elementCountAtLeast(10))`` — reference
    AfterWatermark.java:59 + AfterPane.java:31, pane metadata
    PaneInfo.java:44-58 — as a per-(event_type, 1-day-window) sum of
    event_ids over a sequenced TestStream replay: one data wave
    (watermark 0 → every count-firing is EARLY), then a watermark tail
    30 days ahead whose advance fires each window's end-of-window
    named timer → exactly one ON_TIME pane per window, after which the
    AfterWatermark machine finishes and the window closes
    (is_last=true).  Element order within the wave is pinned by
    ``order_by=[ts, event_id]`` (the reference has no intra-bundle
    order either, so a stable order IS a valid arrival order — the
    same replay-determinism discipline as ``stream_rate_limit_exact``),
    which makes every pane a pure prefix function of the sorted
    stream: EARLY pane k = elements (10k, 10k+10] with the running
    (ACCUMULATING_FIRED_PANES) total = prefix sum at 10(k+1); the
    ON_TIME pane carries the full window total with
    n_in_pane = count % 10 and pane_index = count // 10.  The full
    PaneInfo surface — pane_index, EARLY/ON_TIME timing, is_first,
    is_last, on_time_index (-1 speculative / 0 on-time),
    n_in_pane, end-of-window pane_ts_ms, accumulated total — answers
    to a ROW_NUMBER/prefix-SUM oracle, so one wrong pane index,
    timing label, or running total breaks the hash: the ELEVENTH
    streaming query under the value-oracle gate and the first for the
    trigger state-machine family."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.trigger_machine import (AfterPane,
                                                             AfterWatermark)
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum
    from apache_beam_spark.streaming.windowed import run_to_memory

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 150)   # deterministic subset so
          # the TestStream spool stays bounded at larger SFs: the
          # generator's user_id range scales with SF at constant
          # ~67 events/user, so this fixed 150-user cohort measures
          # ~10k rows at EVERY SF >= 0.01 (sf0.1: 10,014) — the
          # driver-side collect is O(cohort), not O(table)
          .select("event_type", "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    assert len(rows) <= 50_000, (
        f"trigger-entry replay spool grew to {len(rows)} rows — the "
        f"user_id < 150 cohort is expected ~10k at any SF; revisit "
        f"the bound before spooling this through the driver")
    ts = TestStream(tempfile.mkdtemp(prefix="entry_strigger_"))
    ts.add_elements(rows)
    tail = max(r["tus"] for r in rows) + 30 * 24 * 3600 * 1_000_000
    ts.add_elements([{"event_type": "zz_watermark_tail",
                      "event_id": 0, "tus": tail}])
    trigger = (trigger_fn() if trigger_fn is not None
               else AfterWatermark().with_early_firings(AfterPane(10)))
    sdf = triggered_windowed_sum(
        ts.stream(spark, "event_type string, event_id bigint, tus bigint")
        .select("event_type", "event_id",
                F.timestamp_micros("tus").alias("ts")),
        key="event_type", value_col="event_id", window_size="1 day",
        trigger=trigger, event_time="ts", accumulating=accumulating,
        order_by=["ts", "event_id"], **tws_kwargs)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("key") != "zz_watermark_tail")
            .select("key", "window_end_ms", "pane_index", "timing",
                    "is_first", "is_last", "on_time_index",
                    "n_in_pane", "pane_ts_ms", "total"))


def _stream_trigger_orfinally_exact(spark, sf_dir):
    """The OrFinally + Repeatedly combinator path end-to-end under the
    oracle gate (OrFinallyTrigger.java:31 + Repeatedly.java:37 —
    previously pytest-transcript-only): ``Repeatedly.forever(
    AfterPane.elementCountAtLeast(7)).orFinally(AfterWatermark.
    pastEndOfWindow())`` over the same sequenced replay as
    `stream_trigger_exact`.  Repeatedly re-arms the count trigger
    after every EARLY pane (pane k = elements (7k, 7(k+1)]); the
    orFinally `until` fires the FINAL pane when the watermark passes
    the window end (timing ON_TIME, is_last=true) and closes the
    window — a different machine composition whose panes answer to
    the same prefix-sum oracle shape at fire-every-7."""
    from apache_beam_spark.streaming.trigger_machine import (AfterPane,
                                                             AfterWatermark,
                                                             Repeatedly)

    return _stream_trigger_exact(
        spark, sf_dir,
        trigger_fn=lambda: Repeatedly(AfterPane(7)).or_finally(
            AfterWatermark()))


def _stream_trigger_aftereach_exact(spark, sf_dir):
    """The FINISHED-TRIGGER WINDOW-CLOSURE contract under the oracle
    gate (AfterEach.java:45; "a finished trigger closes the window and
    later elements are dropped" — Window.java): ``AfterEach.inOrder(
    AfterPane.elementCountAtLeast(5), AfterPane.elementCountAtLeast(9))``
    runs each sub-trigger to completion in order and FINISHES after
    the last.  A window with >= 14 (ts, event_id)-ordered elements
    emits EARLY panes at its 5th and 14th elements, then CLOSES
    mid-stream: every later element is dropped.  A window whose
    trigger is still UNFINISHED when the watermark passes its end
    emits its buffered remainder as a FINAL expiry pane —
    ``ReduceFnRunner.onGarbageCollection`` firing ``onTrigger(
    isFinished=true)`` under the default ``ClosingBehavior.
    FIRE_IF_NON_EMPTY`` (ReduceFnRunner.java:775-783): windows with
    cnt < 5 emit one ON_TIME pane 0 carrying all cnt elements;
    windows with 5 < cnt < 14 emit an ON_TIME pane 1 with the
    (cnt - 5)-element remainder; a window with exactly 5 elements has
    an EMPTY pending pane at expiry and emits nothing further
    (FIRE_IF_NON_EMPTY).  The emitted set is a pure function of the
    sorted replay — prefix sums at rn 5/14 plus the per-window expiry
    rows — a third DISTINCT machine behavior (mid-stream closure +
    non-lossy expiry) value-checked after AfterWatermark-early and
    OrFinally/Repeatedly."""
    from apache_beam_spark.streaming.trigger_machine import (AfterEach,
                                                             AfterPane)

    return _stream_trigger_exact(
        spark, sf_dir,
        trigger_fn=lambda: AfterEach(AfterPane(5), AfterPane(9)))


def _stream_trigger_late_exact(spark, sf_dir):
    """The LATE pane path under the oracle gate — the last PaneInfo
    surface that had only pytest evidence (VERDICT r12 item 1):
    ``AfterWatermark.pastEndOfWindow().withEarlyFirings(
    AfterPane.elementCountAtLeast(10)).withLateFirings(
    AfterPane.elementCountAtLeast(4))`` with ``allowed_lateness`` = 32
    days (AfterWatermark.java:59 late firings, PaneInfo.java:44-58
    LATE timing, Window.withAllowedLateness:292) over a SEQUENCED
    four-batch replay:

    1. wave 1 (event_id % 3 != 0) at watermark 0 — EARLY panes every
       10 elements, accumulating prefix sums;
    2. a watermark tail placed so the watermark lands EXACTLY between
       the two halves' expiry times: past every window's END (every
       window fires its ON_TIME pane, remainder count, full wave-1
       total, on_time_index 0, is_last=false — late firings keep the
       trigger alive) but past only the FIRST-half windows' end +
       lateness, so those expire (GC finds an empty pending pane —
       nothing further) while second-half windows stay open;
    3. wave 2 (event_id % 3 == 0, windows seen in wave 1 only) — all
       late: for EXPIRED windows (end <= the mid-range split M) the
       operator must DROP every element against the CURRENT watermark
       (LateDataDroppingDoFnRunner.java:48 — Spark's own pre-state
       filter is a batch behind and admits them); for OPEN windows the
       late machine fires a LATE pane every 4 sorted elements —
       pane_index continues past the on-time pane, on_time_index
       1, 2, ..., accumulating totals SPAN the watermark crossing
       (wave-1 total + late prefix);
    4. a final tail past every expiry — each open window's non-empty
       late remainder surfaces as the expiry final pane
       (ReduceFnRunner.onGarbageCollection, FIRE_IF_NON_EMPTY):
       timing LATE, is_last=true, cross-watermark total.

    The watermark delay doubles as the allowed lateness (Spark's
    single-watermark model), so the split M = the mid-range window-end
    boundary is the one free parameter; both sides (Spark waves,
    DuckDB oracle) derive it as ((min_day + max_day) // 2 + 1).  Every
    pane — admitted and dropped sets included — is a pure function of
    the two sorted waves, answering to a per-wave ROW_NUMBER /
    prefix-SUM oracle: the SEVENTEENTH streaming value-oracle entry
    and the first to pin LATE panes and allowed-lateness > 0."""
    import tempfile

    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.trigger_machine import (AfterPane,
                                                             AfterWatermark)
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum
    from apache_beam_spark.streaming.windowed import run_to_memory

    DAY_US = 86_400_000_000
    LATENESS_DAYS = 32   # > the events table's ~30-day span, so the
    # delayed watermark sits before wave 2's oldest element when it
    # arrives (Spark's pre-state filter admits the whole late wave;
    # the in-operator expiry rule then decides per Beam semantics)
    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 150)   # bounded ~10k-row spool at
          # every SF (see _stream_trigger_exact)
          .select("event_type", "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    assert len(rows) <= 50_000, (
        f"trigger-entry replay spool grew to {len(rows)} rows — see "
        f"_stream_trigger_exact's bound comment")
    d0 = min(r["tus"] for r in rows) // DAY_US
    d1 = max(r["tus"] for r in rows) // DAY_US
    m_us = ((d0 + d1) // 2 + 1) * DAY_US   # expiry split M (a
    # window-end boundary: windows ending at or before M are expired
    # when the late wave arrives)
    wave1 = [r for r in rows if r["event_id"] % 3 != 0]
    seen = {(r["event_type"], r["tus"] // DAY_US) for r in wave1}
    wave2 = [r for r in rows if r["event_id"] % 3 == 0
             and (r["event_type"], r["tus"] // DAY_US) in seen]
    lateness_us = LATENESS_DAYS * DAY_US
    t1 = m_us + 2 * lateness_us   # watermark after tail 1 = M + lateness
    t2 = t1 + 2 * lateness_us     # past every open window's expiry
    ts = TestStream(tempfile.mkdtemp(prefix="entry_striglate_"))
    ts.add_elements(wave1)
    ts.add_elements([{"event_type": "zz_watermark_tail",
                      "event_id": 0, "tus": t1}])
    ts.add_elements(wave2)
    ts.add_elements([{"event_type": "zz_watermark_tail",
                      "event_id": 0, "tus": t2}])
    trigger = (AfterWatermark().with_early_firings(AfterPane(10))
               .with_late_firings(AfterPane(4)))
    sdf = triggered_windowed_sum(
        ts.stream(spark, "event_type string, event_id bigint, tus bigint")
        .select("event_type", "event_id",
                F.timestamp_micros("tus").alias("ts")),
        key="event_type", value_col="event_id", window_size="1 day",
        trigger=trigger, event_time="ts",
        allowed_lateness=f"{LATENESS_DAYS} days",
        order_by=["ts", "event_id"])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_to_memory(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (out.filter(F.col("key") != "zz_watermark_tail")
            .select("key", "window_end_ms", "pane_index", "timing",
                    "is_first", "is_last", "on_time_index",
                    "n_in_pane", "pane_ts_ms", "total"))


def _stream_trigger_afterfirst_exact(spark, sf_dir):
    """The AfterFirst combinator under the oracle gate
    (AfterFirst.java:33 — fires when ANY sub-trigger fires, then
    finishes): ``AfterFirst.of(AfterPane.elementCountAtLeast(12),
    AfterWatermark.pastEndOfWindow())`` over the same sequenced replay
    as `stream_trigger_exact`.  Each window emits EXACTLY ONE pane by
    whichever race leg wins: >= 12 elements -> an EARLY pane at the
    12th sorted element (count leg; is_first AND is_last, window
    closes mid-stream, later elements dropped); < 12 elements -> an
    ON_TIME pane when the watermark passes the end (watermark leg;
    all cnt elements).  The two legs produce DISTINCT pane shapes
    (EARLY/partial-total vs ON_TIME/full-total), so a machine that
    mis-races — fires both, fires the count leg at the wrong element,
    or lets the watermark leg fire after the count leg closed — breaks
    the hash.  Fourth machine composition under the value-oracle gate
    (after AfterWatermark-early, OrFinally/Repeatedly, AfterEach)."""
    from apache_beam_spark.streaming.trigger_machine import (AfterFirst,
                                                             AfterPane,
                                                             AfterWatermark)

    return _stream_trigger_exact(
        spark, sf_dir,
        trigger_fn=lambda: AfterFirst(AfterPane(12), AfterWatermark()))


def _stream_trigger_closing_always_exact(spark, sf_dir):
    """ClosingBehavior.FIRE_ALWAYS under the oracle gate
    (Window.withClosingBehavior, ClosingBehavior.java — the other leg
    of the reference's closing-behavior enum; `stream_trigger_
    aftereach_exact` covers the FIRE_IF_NON_EMPTY default):
    ``Repeatedly.forever(AfterPane.elementCountAtLeast(5))`` never
    finishes, so EVERY window reaches expiry with an unfinished
    trigger and FIRE_ALWAYS emits the final pane EVEN WHEN EMPTY —
    windows whose element count divides 5 exactly (~1/5 of them at
    any SF) emit an expiry pane with n_in_pane = 0 carrying the
    accumulated total, the rest their remainder; plus the usual EARLY
    pane every 5 sorted elements.  A FIRE_IF_NON_EMPTY implementation
    mislabeled as FIRE_ALWAYS drops exactly the n = 0 rows and breaks
    the hash."""
    from apache_beam_spark.streaming.trigger_machine import (AfterPane,
                                                             Repeatedly)

    return _stream_trigger_exact(
        spark, sf_dir,
        trigger_fn=lambda: Repeatedly(AfterPane(5)),
        closing_behavior="fire_always")


def _stream_trigger_ontime_if_nonempty_exact(spark, sf_dir):
    """OnTimeBehavior.FIRE_IF_NON_EMPTY under the oracle gate
    (Window.withOnTimeBehavior, OnTimeBehavior.java — the reference's
    default is FIRE_ALWAYS, covered by `stream_trigger_exact`): same
    AfterWatermark + early-count-10 machine and replay, but an EMPTY
    on-time pane is SUPPRESSED — windows whose element count divides
    10 exactly (every element already fired in EARLY panes) produce NO
    watermark-crossing row, while the trigger still finishes and the
    window still closes.  The oracle is `stream_trigger_exact`'s
    minus exactly those rows, so an implementation that emits the
    empty pane anyway, or one that fails to close the suppressed
    window, breaks the hash."""
    return _stream_trigger_exact(spark, sf_dir,
                                 on_time_behavior="fire_if_non_empty")


def _stream_trigger_earliest_ts_exact(spark, sf_dir):
    """WATERMARK-HOLD pane output timestamps under the oracle gate
    (WatermarkHold.java:546 — the reference holds the watermark at the
    earliest buffered element so an early pane can carry an
    element-derived timestamp; TimestampCombiner.EARLIEST,
    TimestampCombiner.java): same machine and replay as
    `stream_trigger_exact` but with ``timestamp_combiner='earliest'``,
    so each pane's ``pane_ts_ms`` is the MIN event time of the pane's
    OWN elements — EARLY pane k carries the timestamp of sorted
    element 10k+1, the ON_TIME pane that of the first remainder
    element, and an EMPTY on-time pane (count divides 10) falls back
    to the window end (the hold has nothing to hold —
    WatermarkHold end-of-window extraction).  The §2.9
    WatermarkHoldState row's realized surface — hold-DERIVED pane
    timestamps — moves from pytest-only to value-oracled; the hash
    breaks if any pane carries the wrong element's timestamp or the
    empty-pane fallback is missing."""
    return _stream_trigger_exact(spark, sf_dir,
                                 timestamp_combiner="earliest")


def _stream_trigger_never_exact(spark, sf_dir):
    """Never.ever() under the oracle gate (Never.java:32: "only the
    runner's final pane, if any" — the trigger itself never fires and
    never finishes): every element buffers until window expiry, where
    ``ReduceFnRunner.onGarbageCollection`` fires the one-and-only
    final pane (FIRE_IF_NON_EMPTY) — so each window emits EXACTLY ONE
    pane carrying ALL its elements: pane 0, ON_TIME, is_first AND
    is_last, on_time_index 0, full total.  Pre-r13 this operator
    silently emitted NOTHING for Never (the expiry pane didn't
    exist); the oracle pins that the GC path emits once, with
    everything, and never double-fires."""
    from apache_beam_spark.streaming.trigger_machine import Never

    return _stream_trigger_exact(spark, sf_dir,
                                 trigger_fn=lambda: Never())


def _stream_trigger_discarding_exact(spark, sf_dir):
    """DISCARDING_FIRED_PANES twin of `stream_trigger_exact`
    (Window.java:261,273 — the other accumulation mode of the
    reference's trigger surface): identical replay, machine and pane
    metadata, but each pane's ``total`` carries only the pane's OWN
    elements (EARLY pane k = elements (10k, 10(k+1)]; the ON_TIME pane
    the post-last-fire remainder, 0 when the count divides evenly) —
    prefix-sum DIFFERENCES in the oracle instead of prefix sums, so
    the pane-reset bookkeeping is value-checked too."""
    return _stream_trigger_exact(spark, sf_dir, accumulating=False)


def _windowed_file_write(spark, sf_dir):
    """Reference-parity WINDOWED SHARDED FILE SINK round trip
    (WriteFiles.java withNumShards + FileBasedSink.java windowed
    writes with finalize-rename — the one §2.11 row previously
    adjudicated "Spark commit protocol replaces, by design"):
    ``windowed_sharded_write`` (sources/io.py) writes the event ids
    (user_id < 300) as per-(1-day-window, shard) text files named
    ``events-{windowStartMs}-{windowEndMs}-{ssss}-of-{NNNN}.txt``
    through a hidden temp dir + atomic per-file rename finalize; the
    query then reads the FINAL files back (the glob cannot see the
    temp dir, so an unfinalized write would return zero rows) and
    re-derives (window_start_ms, shard) by PARSING each line's
    filename — the oracle reconstructs every line AND its exact
    filename from SQL, so wrong shard math, wrong window bounds, a
    misnamed file, or a lost/duplicated line all break the hash."""
    import tempfile

    from apache_beam_spark.sources.io import windowed_sharded_write

    out = tempfile.mkdtemp(prefix="entry_wfw_")
    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 300)
          .select("event_id", F.col("ts").cast("timestamp").alias("ts")))
    windowed_sharded_write(ev, out, "events", "1 day", "ts",
                           text_col="event_id", num_shards=4,
                           shard_col="event_id")
    pat = r"events-(\d+)-(\d+)-(\d+)-of-(\d+)\.txt"
    rb = (spark.read.text(out + "/events-*")
          .withColumn("filename",
                      F.element_at(F.split(F.input_file_name(), "/"), -1)))
    return rb.select(
        F.col("value").cast("long").alias("event_id"),
        F.regexp_extract("filename", pat, 1).cast("long")
        .alias("window_start_ms"),
        F.regexp_extract("filename", pat, 3).cast("int").alias("shard"),
        "filename")


def _windowed_file_write_dynamic(spark, sf_dir):
    """DYNAMIC DESTINATIONS twin of `windowed_file_write`
    (DynamicFileDestinations.java / DefaultFilenamePolicy: each
    element routes to its own destination's filename policy): one
    write call fans the events out to per-event_type shard sets —
    filenames ``{event_type}-{ws}-{we}-{ssss}-of-00002.txt`` — through
    the same temp+rename finalize; read-back parses BOTH the
    destination and the window/shard from each filename, and the
    oracle reconstructs all of it from SQL."""
    import tempfile

    from apache_beam_spark.sources.io import windowed_sharded_write

    out = tempfile.mkdtemp(prefix="entry_wfwd_")
    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 300)
          .select("event_id", "event_type",
                  F.col("ts").cast("timestamp").alias("ts")))
    windowed_sharded_write(ev, out, "unused", "1 day", "ts",
                           text_col="event_id", num_shards=2,
                           shard_col="event_id", dest_col="event_type")
    pat = r"([a-z_]+)-(\d+)-(\d+)-(\d+)-of-(\d+)\.txt"
    rb = (spark.read.text(out + "/*-of-*.txt")
          .withColumn("filename",
                      F.element_at(F.split(F.input_file_name(), "/"), -1)))
    return rb.select(
        F.col("value").cast("long").alias("event_id"),
        F.regexp_extract("filename", pat, 1).alias("event_type"),
        F.regexp_extract("filename", pat, 2).cast("long")
        .alias("window_start_ms"),
        F.regexp_extract("filename", pat, 4).cast("int").alias("shard"),
        "filename")


def _windowed_file_write_stream(spark, sf_dir):
    """The STREAMING windowed sharded sink under the oracle gate
    (VERDICT r12 item 5 — the pane-stamped foreachBatch twin was
    pytest-only): ``windowed_sharded_write_stream`` (sources/io.py)
    finalizes each micro-batch's windowed shard files with a
    ``-pane{batchId}`` stamp before the suffix (the reference names
    triggered windowed writes with PaneInfo the same way,
    FileBasedSink.java windowedWrites; WriteFiles.java:336).  A
    single-wave deterministic replay makes every file batch 0 →
    ``events-{ws}-{we}-{ssss}-of-{NNNN}-pane0.txt`` — so the read-back
    answers to the same filename-reconstruction oracle as the batch
    twin `windowed_file_write`: every line AND its exact pane-stamped
    filename rebuilt in SQL.  An unfinalized write, wrong pane stamp,
    wrong shard math, or a lost/duplicated line all break the hash."""
    import tempfile

    from apache_beam_spark.sources.io import windowed_sharded_write_stream
    from apache_beam_spark.streaming.sources import TestStream

    out = tempfile.mkdtemp(prefix="entry_wfws_")
    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("user_id") < 300)
          .select("event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("tus")))
    rows = [r.asDict() for r in ev.collect()]
    ts = TestStream(tempfile.mkdtemp(prefix="entry_wfws_spool_"))
    ts.add_elements(rows)     # ONE wave -> every file is -pane0
    src = (ts.stream(spark, "event_id bigint, tus bigint")
           .select("event_id", F.timestamp_micros("tus").alias("ts")))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = windowed_sharded_write_stream(
        src, out, "events", "1 day", "ts", text_col="event_id",
        num_shards=4, shard_col="event_id",
        checkpoint=tempfile.mkdtemp(prefix="entry_wfws_ckpt_")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    pat = r"events-(\d+)-(\d+)-(\d+)-of-(\d+)-pane0\.txt"
    rb = (spark.read.text(out + "/events-*-pane0.txt")
          .withColumn("filename",
                      F.element_at(F.split(F.input_file_name(), "/"), -1)))
    return rb.select(
        F.col("value").cast("long").alias("event_id"),
        F.regexp_extract("filename", pat, 1).cast("long")
        .alias("window_start_ms"),
        F.regexp_extract("filename", pat, 3).cast("int").alias("shard"),
        "filename")


def _dedup_simhash(spark, sf_dir):
    """SimHash near-dedup — rows-only (engine-specific xxhash64 bit
    derivation; survives as the production fast path — correctness
    rides the oracled `dedup_simhash_md5` twin plus the exact-count
    pin in tests/test_twin_parity.py, which bounds the legitimate
    borderline-hamming divergence between the two bit derivations at
    5 docs of 500)."""
    return simhash_dedup(load_table(spark, "documents", sf_dir), max_hamming=3) \
        .select("doc_id")


def _dedup_simhash_md5(spark, sf_dir):
    """SimHash dedup, md5 variant: per-token md5 nibble bits + bitstring
    simhash make the kept-set reproducible in DuckDB — the oracle-
    checked proof of the simhash pipeline (majority bits -> pigeonhole
    chunks -> hamming<=3 verify) that the xxhash64 twin can't give."""
    from apache_beam_spark.dedup.simhash import simhash_dedup_md5

    return simhash_dedup_md5(load_table(spark, "documents", sf_dir))


def _ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.5 via inverted index."""
    return ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), shingle_k=3, threshold=0.5,
        max_df=100, observation=_bucket_observation("ngram_jaccard"),
    )


def _embed_kmeans_fixed(spark, sf_dir):
    """kmeans_assign with a FIXED quantizer (the embeddings of
    vec_id 0..7): the assignment path — gemm argmin with
    lowest-cluster tiebreak — becomes fully value-checkable, the same
    strategy as `embed_ivf_fixed`.  The trained-fit path (iterative,
    float-order-dependent Lloyd's) is numpy-pinned in
    tests/test_kmeans.py; its rows-only entry was retired in r9
    (VERDICT r8 item 4: it added no correctness signal this twin
    lacks)."""
    from apache_beam_spark.similarity.kmeans import kmeans_assign

    emb = load_table(spark, "embeddings", sf_dir)
    cents = [r["embedding"]
             for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    return kmeans_assign(emb, cents)


def _pack_sequences(spark, sf_dir):
    """Sequence packing (operators/packing.py): greedy first-fit of
    documents into 2000-char budget bins within 8 deterministic shards
    (doc_id % 8, ascending id) — one shuffle, then linear local work.
    Oracle: the same first-fit recurrence as a recursive CTE."""
    from apache_beam_spark.operators.packing import pack_greedy

    docs = load_table(spark, "documents", sf_dir)
    return pack_greedy(docs, capacity=2000, size_col="n_chars",
                       id_col="doc_id", n_shards=8)


def _llm_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus preparation — the 100 TB use case as
    ONE declarative pipeline: quality gate (gopher-style composite
    score) -> language allowlist -> exact dedup (min-id witness per
    normalized text) -> near-dup cluster representatives (n-gram
    Jaccard >= 0.5 edges + connected components, keep doc == component)
    -> greedy sequence packing of the survivors into 4000-char bins.

    Every stage is an already-oracled operator; the oracle chains the
    same CTEs, so the COMPOSITION is value-checked, not just the
    parts.  Scale shape: filters push to the scan; dedup shuffles
    (fingerprint, id) pairs only; CC is edge-sized; packing is one
    shard shuffle."""
    return _corpus_prep_stages(spark, sf_dir)["packed"]


def _corpus_prep_stages(spark, sf_dir):
    """Shared stage graph for the corpus-prep pipeline (consumed by
    `_llm_corpus_prep` and `_corpus_prep_stats`).  The near-dup edges
    are driver-sized at every fixture scale, so the CC stage is one
    bounded edge collect plus a driver union-find (dedup/components.py
    ``_DRIVER_MAX_EDGES``), not per-round Spark jobs."""
    from apache_beam_spark.dedup.components import dup_clusters
    from apache_beam_spark.dedup.exact import exact_dedup
    from apache_beam_spark.operators.packing import pack_greedy
    from apache_beam_spark.plans.caching import cache_scoped

    # fixture trim (VERDICT r10 item 3): EVEN doc ids only — every
    # stage (quality gate, lang filter, exact dedup, jaccard pairs,
    # CC, packing) still runs over a genuine corpus while the bench
    # wall and the chained-CTE oracle halve; the oracle filters its
    # first CTE identically.
    d = load_table(spark, "documents", sf_dir) \
        .filter(F.col("doc_id") % 2 == 0)
    kept = (d.filter(T.quality_score(F.col("text")) > F.lit(0.75))
            .filter(F.col("lang").isin("en", "de", "fr", "es")))
    # the survivor set is consumed by four downstream stages (pair
    # generation, CC node universe, representative semi-join, packing)
    # and the CC edge probe runs an action during construction —
    # materialize the quality+dedup subtree exactly once
    uniq = cache_scoped(exact_dedup(kept))
    # expand="star": the CC consumer needs connectivity, not the full
    # pair list — clone groups emit linear spanning edges, identical
    # components (dedup/ngram.py module docstring)
    pairs = ngram_jaccard_pairs(uniq, shingle_k=3, threshold=0.5,
                                max_df=100,
                                expand="star").select("id_a", "id_b")
    comp = dup_clusters(pairs, uniq.select("doc_id"))
    reps = comp.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    final = uniq.join(reps, on="doc_id", how="left_semi")
    packed = pack_greedy(final, capacity=4000, size_col="n_chars",
                         id_col="doc_id", n_shards=4)
    return {"docs": d, "kept": kept, "uniq": uniq, "reps": reps,
            "packed": packed}


def _corpus_prep_stats(spark, sf_dir):
    """Pipeline observability: per-stage attrition of the corpus-prep
    chain as ONE row (input docs -> quality+lang survivors -> exact-
    dedup survivors -> near-dup representatives -> packed bins) — the
    Metrics story for the flagship, computed in-plan via broadcast
    1-row aggregates, no separate count jobs."""
    s = _corpus_prep_stages(spark, sf_dir)
    a = s["docs"].agg(F.count(F.lit(1)).alias("n_docs"))
    b = s["kept"].agg(F.count(F.lit(1)).alias("n_kept"))
    c = s["uniq"].agg(F.count(F.lit(1)).alias("n_uniq"))
    r = s["reps"].agg(F.count(F.lit(1)).alias("n_reps"))
    p = s["packed"].agg(F.countDistinct("shard", "bin").alias("n_bins"))
    return (a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
            .crossJoin(F.broadcast(r)).crossJoin(F.broadcast(p)))


def _embed_pq_fixed(spark, sf_dir):
    """Product-quantization ANN with a FIXED codebook — subspace s's
    centroids are the s-th subvectors of embeddings vec_id 0..15
    (m=8 subspaces x ksub=16 codes over d=64).  Encode (per-subspace
    argmin, ties to lowest code) and ADC search (exact query-side
    lookup tables, sum of m table hits, rank ties to lowest neighbor)
    are then deterministic, so the WHOLE compressed-domain pipeline is
    value-oracled in SQL — same strategy as `embed_ivf_fixed` /
    `embed_kmeans_fixed`.  The trained-codebook path (sampled k-means)
    is recall-floor-tested in tests/test_pq.py; its rows-only entry
    was retired in r9 (VERDICT r8 item 4)."""
    from apache_beam_spark.similarity.pq import pq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    first = [r["embedding"] for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    books = [[list(map(float, v[s * 8:(s + 1) * 8])) for v in first]
             for s in range(8)]
    q = emb.filter(F.col("vec_id") < 100)
    return pq_topk(q, emb, books, k=3)


def _embed_ivfpq_fixed(spark, sf_dir):
    """IVF-PQ ANN with a FIXED coarse quantizer + codebooks
    (similarity/pq.py::ivfpq_topk): coarse cells are embeddings
    vec_id 0..7, PQ codebooks the s-th subvectors of vec_id 0..15;
    corpus codes quantize the RESIDUAL v - centroid[cell], each query
    probes its 2 nearest cells and ADC-scans only those cells' codes
    against residual lookup tables — the composed
    `embed_ivf_fixed` x `embed_pq_fixed` tier (Jegou et al. TPAMI'11)
    that at 100 TB reads ~n_probe/n_cells of the code rows instead of
    all of them.  Every stage (cell argmin, residual encode, probe
    set, ADC, rank) is deterministic with ties to the lowest id, so
    the whole pipeline is value-oracled in SQL.  The trained path
    (sampled k-means on both tiers) stays recall-floor-tested in
    tests/test_pq.py."""
    from apache_beam_spark.similarity.pq import ivfpq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    first = [r["embedding"] for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    cents = [list(map(float, v)) for v in first[:8]]
    books = [[list(map(float, v[s * 8:(s + 1) * 8])) for v in first]
             for s in range(8)]
    q = emb.filter(F.col("vec_id") < 100)
    return ivfpq_topk(q, emb, cents, books, k=3, n_probe=2)


def _embed_pca_gram(spark, sf_dir):
    """Population covariance matrix of the embedding table in long
    form (i, j, cov) — the one-pass moment aggregation behind
    distributed PCA (similarity/pca.py::covariance_long).  The scan
    computes per-partition X^T X grams as Arrow-batched BLAS calls and
    ships ONE d^2 partial per partition to the driver (no shuffle,
    O(partitions * d^2) independent of rows); the d x d result is a
    model artifact.  Value-oracled: DuckDB reproduces every entry from
    an unnest self-join."""
    from apache_beam_spark.similarity.pca import covariance_long

    return covariance_long(load_table(spark, "embeddings", sf_dir))


def _embed_pca_project(spark, sf_dir):
    """Distributed PCA PROJECTION under a FIXED 8-row basis — the
    production gemm pass (similarity/pca.py::pca_project: mean-center,
    ``(x - mean) @ B^T`` per Arrow batch, explode-free long form, n*k
    rows) made VALUE-ORACLE-ABLE by pinning the basis to the first 8
    embedding vectors (``vec_id < 8`` — the embed_kmeans_fixed
    precedent; r8 VERDICT item 4: this query was the one rows-only
    entry an oracle could reach).  The eigen-FIT side stays covered by
    the value-oracled ``embed_pca_gram`` covariance (the moments that
    feed eigh) plus the numpy-pinned fit+projection round trips in
    tests/test_pca.py — eigenvectors themselves are not
    SQL-expressible, the projection machinery is."""
    from apache_beam_spark.similarity.pca import (PCAModel,
                                                  embedding_moments,
                                                  pca_project)

    emb = load_table(spark, "embeddings", sf_dir)
    _, mean, _ = embedding_moments(emb)
    basis = [r["v"] for r in
             emb.where(F.col("vec_id") < 8)
             .select("vec_id", F.col("embedding").cast("array<double>")
                     .alias("v"))
             .orderBy("vec_id").collect()]
    model = PCAModel(mean=mean.tolist(), components=basis,
                     explained_variance=[0.0] * len(basis))
    return pca_project(emb, model, long_form=True)


def _ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment >= 0.8 — subsumed-document
    detection (dedup/ngram.py::ngram_containment_pairs)."""
    from apache_beam_spark.dedup.ngram import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, "documents", sf_dir), shingle_k=3, threshold=0.8,
        max_df=100)


def _dup_clusters(spark, sf_dir):
    """Near-dup pairs -> clusters: n-gram Jaccard >= 0.5 pairs as the
    edge set, connected components to label every document with its
    cluster's min doc_id.  The pair list is driver-sized here, so CC is
    one bounded edge collect and a driver union-find whose labels are
    broadcast-joined onto the doc ids; pair lists above
    ``_DRIVER_MAX_EDGES`` take the distributed hash-min + large-star/
    small-star path (dedup/components.py).  Singletons keep their
    own id.  Edge mining runs ``expand="star"`` — clone groups
    contribute linear spanning edges with identical components (the
    r4-verdict superlinear fix).  Oracle: transitive closure via
    recursive CTE over the full pair list — same components either
    way, so the labels still value-match."""
    from apache_beam_spark.dedup.components import dup_clusters

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5,
                                max_df=100,
                                expand="star").select("id_a", "id_b")
    return dup_clusters(pairs, docs.select("doc_id"))


def _chunk_dedup(spark, sf_dir):
    """Passage-level dedup (dedup/chunks.py): 10-word chunks, corpus-wide
    keep-first witness, docs reassembled from surviving chunks.  Two
    shuffles total (chunk-keyed window + doc-keyed rebuild)."""
    from apache_beam_spark.dedup.chunks import chunk_dedup

    return chunk_dedup(load_table(spark, "documents", sf_dir), chunk_words=10)


def _decontaminate_benchmark(spark, sf_dir):
    """Benchmark decontamination (dedup/decontaminate.py): flag corpus
    docs whose distinct trigram overlap with a held-out benchmark slice
    (every 37th doc) reaches 50%.  Benchmark grams broadcast; corpus
    text never shuffles; one shuffle total (per-doc count)."""
    from apache_beam_spark.dedup.decontaminate import decontaminate

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return decontaminate(docs, bench, shingle_k=3, threshold=0.5)


def _embed_knn(spark, sf_dir):
    """Brute-force cosine top-3 for the first 100 vectors (block-BLAS
    path: broadcast corpus matrix, one gemm per Arrow batch)."""
    from apache_beam_spark.similarity.knn import brute_force_topk_blas

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 100)
    return brute_force_topk_blas(q, emb, k=3).select(
        "query_id", "neighbor_id", "rank", "sim")


def _embed_lsh_knn(spark, sf_dir):
    """LSH-bucketed ANN.  The random hyperplanes are seeded, so the
    oracle reproduces the exact buckets by inlining them as SQL
    literals (repr() round-trips the doubles) — the approximation is
    deterministic, hence fully value-checked, not rows-only."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 100)
    return lsh_topk(q, emb, dim=64, k=3, n_bits=6).select(
        "query_id", "neighbor_id", "rank", "sim")


def _lsh_knn_oracle_sql() -> str:
    """DuckDB twin of _embed_lsh_knn: same seeded planes as literals."""
    from apache_beam_spark.similarity.knn import _hyperplanes

    planes = _hyperplanes(64, 6, 42)

    def arr(p):
        return "[" + ",".join(repr(x) for x in p) + "]::DOUBLE[]"

    bucket = " + ".join(
        f"{1 << i} * (CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)})"
        " > 0 THEN 1 ELSE 0 END)"
        for i, p in enumerate(planes))
    cos = ("list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
           " / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))"
           " * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))")
    return f"""
        WITH b AS (
            SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        )
        SELECT query_id, neighbor_id, rank, sim FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({cos}, 6) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {cos} DESC, c.vec_id) AS rank
            FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 100) t
        WHERE rank <= 3"""


def _embed_ivf_fixed(spark, sf_dir):
    """IVF ANN with a FIXED coarse quantizer (the first 16 vectors as
    centroids) instead of sampled k-means: cell assignment becomes
    pure cosine-argmax, which the oracle reproduces in SQL — the
    oracle-checked proof of the IVF pipeline (assign -> probe top-4
    cells -> candidate equi-join -> exact rerank)."""
    from apache_beam_spark.similarity.knn import ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cents = [r["embedding"] for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    q = emb.filter(F.col("vec_id") < 100)
    return ivf_topk(q, emb, dim=64, k=3, n_cells=16, n_probe=4,
                    centroids=cents).select(
        "query_id", "neighbor_id", "rank", "sim")


def _planted_embeddings(spark, sf_dir):
    """embeddings PLUS planted near-copies: the synthetic vectors are
    near-orthogonal (max pairwise cos ~0.51), so at a realistic 0.95
    threshold the raw table has no near-dup pairs and any dedup check
    would be vacuous.  Every 10th vector gets a planted neighbor
    v + 0.2*v_next (cos ~0.98) under id+1000000."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    nxt = emb.select((F.col("vec_id") - 1).alias("vec_id"),
                     F.col("embedding").alias("__e2__"))
    planted = (
        emb.join(nxt, on="vec_id")
        .filter(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + 1000000).alias("vec_id"),
                F.zip_with("embedding", "__e2__",
                           lambda a, b: a + F.lit(0.2) * b).alias("embedding")))
    # fixture trim (VERDICT r10 item 3, the doc_id % 11 precedent):
    # keep the EVEN ids only — planted ids are vec_id + 1000000 with
    # vec_id % 10 == 0, so every planted near-dup pair survives and
    # the dedup branches stay non-vacuous while the bench corpus (and
    # the O(n^2) DuckDB oracle of embed_near_dup) halves.  Applied
    # AFTER planting so the pair construction itself is unchanged.
    # The (id, vec) corpus feeds several plan branches; cache the
    # narrow projection so the planted join isn't recomputed per branch
    from apache_beam_spark.plans.caching import cache_scoped

    return cache_scoped(emb.unionByName(planted)
                        .filter(F.col("vec_id") % 2 == 0))


def _embed_near_dup(spark, sf_dir):
    """Near-dup pairs over the planted-copy corpus: banded sign-LSH
    candidates, exact-cosine verify; the oracle's exact O(n^2) join
    must be recovered in full (recall 1 on the planted pairs)."""
    from apache_beam_spark.similarity.knn import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_planted_embeddings(spark, sf_dir),
                                    threshold=0.95, dim=64,
                                    observation=_bucket_observation(
                                        "embed_near_dup"))


def _semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: quantize every vector to its
    nearest fixed centroid (the first 8 base embeddings — value-
    checkable, same strategy as embed_kmeans_fixed), mine exact-cosine
    >= 0.95 pairs WITHIN each cell only, resolve clusters by
    connected components (a driver union-find while the pair list is
    driver-sized, dedup/components.py), keep the min-id representative.

    Scale shape (VERDICT r2 item 1): in-cell candidate mining is NOT
    an all-pairs join on the cell id (O((N/k)^2) at fixed k) — it is
    the banded sign-LSH of ``embedding_near_dup_pairs`` with the cell
    id folded into the bucket key (cell, band, bucket).  Bucket width
    is bounded by ``max_bucket`` exactly like ``dedup/minhash.py``, so
    per-task pair work stays capped even when one cell holds O(N)
    vectors.  24 bands x 8 bits gives P(miss) ~ 5e-10 at cos 0.98, so
    the exact in-cell DuckDB oracle is recovered in full."""
    from apache_beam_spark.dedup.components import dup_clusters
    from apache_beam_spark.similarity.kmeans import kmeans_assign
    from apache_beam_spark.similarity.knn import embedding_near_dup_pairs

    corpus = _planted_embeddings(spark, sf_dir)
    cents = [r[0] for r in
             load_table(spark, "embeddings", sf_dir)
             .filter(F.col("vec_id") < 8).orderBy("vec_id")
             .select(F.col("embedding").cast("array<double>")).collect()]
    # the assign gemm already carries the vector — keep_vec skips the
    # join back onto the corpus (optimization r13; the float->double
    # widening is exact, and the verify joins read vectors_df=corpus
    # unchanged).  cache_scoped: the assigned frame feeds the LSH
    # banding pass, the exact-dup hash collapse AND the dup probe —
    # uncached, each branch re-ran the gemm mapInPandas (~3 Python
    # passes per build for a 1.5 MB frame)
    from apache_beam_spark.plans.caching import cache_scoped

    v = cache_scoped(kmeans_assign(corpus, cents, keep_vec=True).select(
        "vec_id", "cluster", "embedding"))
    pairs = embedding_near_dup_pairs(
        v, id_col="vec_id", vec_col="embedding", threshold=0.95,
        n_bands=24, band_bits=8, max_bucket=10000, dim=64,
        group_col="cluster", vectors_df=corpus,
        expand="star",
        observation=_bucket_observation("semantic_dedup")).select(
        "id_a", "id_b")
    comp = dup_clusters(pairs, corpus.select("vec_id"))
    return comp.withColumn("is_representative",
                           F.col("vec_id") == F.col("component"))


def _secondary_sort(spark, sf_dir):
    """SortValues secondary sort (reference
    sdks/java/extensions/sorter/.../SortValues.java:51): values grouped
    per key, ranked WITHIN the group by a secondary key.  A
    row_number() window is the Spark-native shape: ONE keyed shuffle
    with an in-partition sort, whole-stage codegen end to end, and —
    unlike collect_list+sort_array+posexplode — no per-key array ever
    materializes, so a degenerate hot key spills to disk instead of
    blowing executor memory."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, "lineitem", sf_dir)
    w = W.partitionBy("l_orderkey").orderBy("l_shipdate", "l_linenumber")
    return li.select("l_orderkey",
                     F.row_number().over(w).alias("pos_rank"),
                     "l_linenumber")


def _sample_fixed_per_key(spark, sf_dir):
    """Sample.fixedSizePerKey (reference transforms/Sample.java:100) —
    deterministic "random" via md5 ordering so the oracle agrees."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, "lineitem", sf_dir)
    h = F.md5(F.concat_ws("-", F.col("l_orderkey").cast("string"),
                          F.col("l_linenumber").cast("string")))
    # two-level top-k (r14, VERDICT r13 item 7 — the combine.py §2.5
    # pattern): a window over the THREE-value l_returnflag sorts every
    # lineitem row in 3 tasks at any scale.  Level 1 takes the
    # per-(flag, salt) top-5 in parallel (salt = deterministic hash of
    # the ordering column, 32 buckets like Top.N_SALTS); level 2 ranks
    # the <= 160 survivors per flag.  Exact: a row outside its salt
    # bucket's top-5 has >= 5 same-flag rows ahead of it globally
    # (md5 over the unique key pair is a total order), so the global
    # top-5 is contained in the bucket top-5 union.
    salt = F.pmod(F.xxhash64(h), F.lit(32))
    lw = W.partitionBy("l_returnflag", salt).orderBy(h)
    pruned = (li.withColumn("__lrn__", F.row_number().over(lw))
              .filter(F.col("__lrn__") <= 5).drop("__lrn__"))
    w = W.partitionBy("l_returnflag").orderBy(h)
    return (pruned.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("l_returnflag", "l_orderkey", "l_linenumber"))


def _regex_find_all(spark, sf_dir):
    """Regex.find family (reference transforms/Regex.java): extract all
    long (6+ letter) words from documents, exploded.  (The synthetic
    text contains no digits, so a number pattern would match nothing
    and the check would be vacuous.)"""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.explode(F.expr(r"regexp_extract_all(text, '[a-z]{6,}', 0)")).alias("w"))


def _combine_fanout_count(spark, sf_dir):
    """Combine.perKey with hot-key fanout (Combine.java:1528,1598):
    two-level salted tree via a custom CombineFn; integer accumulators
    so the result is order-exact."""
    from apache_beam_spark.operators.combine import CombineFn

    class _CountFn(CombineFn):
        acc_type = "bigint"

        def create_accumulator(self):
            return 0

        def add_inputs(self, acc, values):
            return acc + len(values)

        def merge_accumulators(self, accs):
            return sum(accs)

        def extract_output(self, acc):
            return acc

    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    out = ev | Combine.per_key_fn("event_type", _CountFn(), "value", "n", "bigint",
                                  fanout=8)
    return out.df


def _media_metadata(spark, sf_dir):
    """Multimodal plumbing: binary payload + JVM-side typed metadata
    (size, content hash) — no Python in the plan."""
    from apache_beam_spark.multimodal import attach_media_metadata

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    out = attach_media_metadata(d, format="text/plain")
    return out.select("doc_id", F.col("meta.size_bytes").alias("size_bytes"),
                      "content_sha")


def _media_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: 1→N mapInPandas fanout over binary
    payloads (fake fixed-size-frame codec; oracle checks the fanout)."""
    from apache_beam_spark.multimodal import sample_frames

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return sample_frames(d, every_n=5, fake=True).select("doc_id", "frame_idx")


def _autocomplete(spark, sf_dir):
    """examples AutoComplete.java: top-3 completions per 2-char prefix
    (flatMap to prefixes -> count -> bounded top-k per key)."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, "documents", sf_dir)
    words = d.select(F.explode(T.word_tokens(F.col("text"))).alias("word")) \
        .filter(F.length("word") >= 2)
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    prefixed = counts.select(F.substring("word", 1, 2).alias("prefix"), "word", "n")
    w = W.partitionBy("prefix").orderBy(F.col("n").desc(), F.col("word"))
    return (prefixed.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("prefix", "word", "n", "rank"))


def _tfidf(spark, sf_dir):
    """examples TfIdf.java (CoGBK multi-way join :278-284): tf-idf per
    (doc, word), restricted to words of >= 6 chars to bound output.

    Expressed as chained aggregations + a broadcast join of the
    document-frequency side — the Spark-native shape of the reference's
    3-way CoGroupByKey."""
    d = load_table(spark, "documents", sf_dir)
    # doc count computed IN-plan (broadcast 1-row agg), not as a
    # separate eager scan job (VERDICT r1 "what's wrong" #4)
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("__nd__"))
    words = d.select("doc_id", F.explode(T.word_tokens(F.col("text"))).alias("word")) \
        .filter(F.length("word") >= 6)
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.select("doc_id", "word").distinct() \
        .groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return (tf.join(F.broadcast(df_), on="word")
            .crossJoin(F.broadcast(n_docs))
            .select("doc_id", "word",
                    F.round(F.col("tf") * F.log(F.col("__nd__") / F.col("df")), 6)
                    .alias("tfidf")))


def _collocations_pmi(spark, sf_dir):
    """Collocation extraction via pointwise mutual information over
    adjacent-token bigrams — the linear-cost collocation pass of a
    training-data pipeline.  Bigrams come from a zip-with-shifted-array
    HOF (functions/text.py::bigrams), so cost is O(tokens), not a
    per-doc self-join; totals are in-plan broadcast 1-row aggregates;
    the unigram-count joins are plain equi-joins AQE will broadcast
    when the vocabulary is small.  pmi = ln((c_ab/M) / ((c_a/N)^2-ish))
    over exact integer counts."""
    d = load_table(spark, "documents", sf_dir)
    bg = d.select(F.explode(T.bigrams(F.col("text"))).alias("p")) \
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = d.select(F.explode(T.word_tokens(F.col("text"))).alias("w"))
    c_ab = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    c_a = uni.groupBy(F.col("w").alias("w1")).agg(F.count(F.lit(1)).alias("c_a"))
    c_b = c_a.select(F.col("w1").alias("w2"), F.col("c_a").alias("c_b"))
    m = bg.agg(F.count(F.lit(1)).cast("double").alias("__m__"))
    n = uni.agg(F.count(F.lit(1)).cast("double").alias("__n__"))
    return (c_ab.filter(F.col("c_ab") >= 20)
            .join(c_a, on="w1").join(c_b, on="w2")
            .crossJoin(F.broadcast(m)).crossJoin(F.broadcast(n))
            .select("w1", "w2", "c_ab",
                    F.round(F.log((F.col("c_ab") / F.col("__m__"))
                                  / ((F.col("c_a") / F.col("__n__"))
                                     * (F.col("c_b") / F.col("__n__")))), 6)
                    .alias("pmi")))


def _source_quality_report(spark, sf_dir):
    """Source-level corpus diagnostics: per source, volume, mean
    quality, mean length, and exact-duplicate count (docs that are not
    their fingerprint group's min-id witness) — the keep/drop-a-crawl
    report of a corpus curation pipeline.  One scan + one window over
    the fingerprint + one agg."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                r"\s+", " ").cast("binary"))
    w = d.select("doc_id", "source", "n_chars",
                 T.quality_score(F.col("text")).alias("q"),
                 fp.alias("fp")) \
        .withColumn("witness", F.min("doc_id").over(W.partitionBy("fp")))
    # exact-decimal means (the repo-wide AVG convention): a plain
    # double avg over ~5k rounded scores flips the 6th decimal with
    # partition order — observed flaky at sf0.1
    n = F.count(F.lit(1))
    return (w.groupBy("source")
            .agg(n.alias("n_docs"),
                 F.round(F.sum(F.col("q").cast("decimal(18,6)"))
                         .cast("double") / n, 6).alias("avg_quality"),
                 F.round(F.sum("n_chars").cast("double") / n, 6)
                 .alias("avg_chars"),
                 F.count(F.when(F.col("doc_id") != F.col("witness"), 1))
                 .alias("n_dup_docs")))


def _funnel_view_purchase(spark, sf_dir):
    """Funnel analysis: per user, how many 'view' events converted to a
    'purchase' within the following hour.  The user_id equi-key makes
    the time-range join a keyed join (per-user event lists are small);
    the semi-join keeps each converting view exactly once."""
    ev = load_table(spark, "events", sf_dir)
    v = ev.filter(F.col("event_type") == "view") \
        .select("event_id", "user_id", "ts")
    p = ev.filter(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    conv = v.join(
        p, (v["user_id"] == p["pu"]) & (p["pts"] > v["ts"])
        & (p["pts"] <= v["ts"] + F.expr("INTERVAL 1 HOUR")), "left_semi")
    return conv.groupBy("user_id") \
        .agg(F.count(F.lit(1)).alias("n_converted_views"))


def _weekly_retention(spark, sf_dir):
    """Cohort retention: users bucketed by the week of their FIRST
    event, counted as active in each subsequent week-offset — two
    aggregations (per-user first week, per-(user,week) activity) and a
    count-distinct, all shuffling only (user, week) pairs."""
    ev = load_table(spark, "events", sf_dir)
    wk = F.date_trunc("week", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("week")).distinct()
    return (active.join(first, on="user_id")
            .select("cohort_week",
                    (F.datediff("week", "cohort_week") / 7)
                    .cast("int").alias("week_offset"), "user_id")
            .groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


def _event_type_pivot(spark, sf_dir):
    """Per-user event-type crosstab via groupBy().pivot() — Spark's
    pivot is a single hash aggregation over (user, type) with the
    pivot columns resolved at plan time (explicit value list: no
    distinct pre-pass, deterministic schema)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy("user_id")
            .pivot("event_type",
                   ["click", "error", "purchase", "signup", "view"])
            .agg(F.count(F.lit(1)))
            .na.fill(0, ["click", "error", "purchase", "signup", "view"]))


def _trigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality scoring: a char-trigram language model
    trained on the corpus itself (explode -> count, with map-side
    partial aggregation), then every doc scored by the mean
    log-probability of its trigrams (self-join to the count table,
    total in-plan as a broadcast 1-row agg).  The statistical-LM
    filtering stage of a training-data pipeline, all JVM-side."""
    d = load_table(spark, "documents", sf_dir)
    # Normalize ONCE into a materialized column, then explode positions
    # and substr per row — all whole-stage-codegen.  (A transform() HOF
    # that captures the normalization expression re-evaluates the regexp
    # for every array element: O(len^2) interpreted work per doc.)
    # Repartition before the explode: trigrams amplify the row count
    # ~300x, so post-read parallelism must match the exploded size, not
    # the (small, possibly single-split) source file.
    from apache_beam_spark.plans.caching import cache_scoped

    # cache the normalized doc frame: the exploded trigram stream is
    # consumed by BOTH the count build and the scoring join, and
    # uncached each side re-ran the scan + regexp + repartition
    # (optimization r13, guide §1.2; doc-sized, the corpus_prep uniq
    # precedent)
    s = cache_scoped(
        d.select("doc_id",
                 F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                 .alias("s"))
        .repartition(spark.sparkContext.defaultParallelism))
    g = (s.select("doc_id", "s",
                  F.explode(F.sequence(
                      F.lit(1),
                      F.greatest(F.length("s") - 2, F.lit(1)))).alias("i"))
         .select("doc_id",
                 F.when(F.length("s") >= 3,
                        F.col("s").substr(F.col("i"), F.lit(3)))
                 .otherwise(F.col("s")).alias("g")))
    # The model is vocabulary-sized (distinct char trigrams — bounded by
    # the charset, not the corpus), so broadcast it: the exploded stream
    # then joins map-side instead of shuffling the full trigram stream
    # on a string key.  The trigram total comes from the count table
    # itself (sum of c), not a second scan of the corpus.  Cached
    # (bounded rows at ANY scale): the broadcast build and the 1-row
    # total each consumed it, and each uncached evaluation re-ran the
    # full exploded-stream aggregation (optimization r13).
    counts = cache_scoped(g.groupBy("g").agg(F.count(F.lit(1)).alias("c")))
    tot = counts.agg(F.sum("c").cast("double").alias("__t__"))
    return (g.join(F.broadcast(counts), on="g")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.round(F.avg(F.log(F.col("c") / F.col("__t__"))), 6)
                 .alias("logprob")))


def _heavy_hitter_words(spark, sf_dir):
    """Corpus-level heavy-hitter tokens WITHOUT shuffling the token
    stream: per-partition Misra-Gries summaries (mapInPandas, capacity
    50) union into a kilobyte-sized candidate set, which is broadcast
    back for an exact-count pass over matching rows only.  Output is
    deterministic — exactly the tokens with frequency > n/51 and their
    exact counts — so it hash-matches the plain SQL GROUP BY/HAVING
    oracle.  (Reference: Top.java/Count.java composed with a threshold;
    the sketch replaces the full shuffle they'd cost at 100 TB.)"""
    from apache_beam_spark.operators.heavy_hitters import heavy_hitters

    from apache_beam_spark.plans.caching import cache_scoped

    # the token stream feeds the Misra-Gries summary pass AND the
    # exact-count verify pass; cache the repartitioned doc frame so
    # the second pass re-tokenizes from memory instead of re-running
    # scan + shuffle (optimization r13, guide §1.2 — the plan is
    # identical to repetition_stats' input, so the suite shares ONE
    # cached copy across both queries)
    d = cache_scoped(load_table(spark, "documents", sf_dir)
                     .repartition(spark.sparkContext.defaultParallelism))
    toks = d.select(F.explode(T.word_tokens(F.col("text"))).alias("item"))
    return heavy_hitters(toks, "item", capacity=50)


def _top_words(spark, sf_dir):
    """Approximate top-k tokens: exact counts restricted to Misra-Gries
    candidates, deterministic (freq desc, item) tiebreak.  Exact — and
    hash-identical to the SQL ORDER BY/LIMIT oracle — whenever the
    k-th frequency clears n/(capacity+1), which capacity=200 guarantees
    for this corpus."""
    from apache_beam_spark.operators.heavy_hitters import approx_top_k

    d = (load_table(spark, "documents", sf_dir)
         .repartition(spark.sparkContext.defaultParallelism))
    toks = d.select(F.explode(T.word_tokens(F.col("text"))).alias("item"))
    return approx_top_k(toks, "item", k=15, capacity=200)


def _repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals per document: duplicate
    word fraction, most-frequent-word fraction, most-frequent-bigram
    fraction — the filters that catch boilerplate/spam in a training
    corpus.  One token explode + (doc, word) partial-agg then per-doc
    agg; bigrams from the linear zip-with-shifted HOF; all counts exact
    integers, ratios rounded.  Scales as two map-side-combined shuffles
    keyed by doc_id — no per-doc data ever collects."""
    from apache_beam_spark.plans.caching import cache_scoped

    # word explode and bigram explode each re-ran the scan + shuffle;
    # cache the repartitioned doc frame once (optimization r13, guide
    # §1.2 — same plan as heavy_hitter_words' input: one shared copy)
    d = cache_scoped(load_table(spark, "documents", sf_dir)
                     .repartition(spark.sparkContext.defaultParallelism))
    w = d.select("doc_id", F.explode(T.word_tokens(F.col("text"))).alias("w"))
    wc = w.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    uni = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("__top_c__"),
        F.count(F.lit(1)).alias("__n_dist__"))
    bgp = (d.select("doc_id", F.explode(T.bigrams(F.col("text"))).alias("p"))
           .select("doc_id",
                   F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("b")))
    bc = bgp.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    big = bc.groupBy("doc_id").agg(F.sum("c").alias("__n_bg__"),
                                   F.max("c").alias("__top_bc__"))
    return (uni.join(big, on="doc_id", how="left")
            .select("doc_id", "n_words",
                    F.round(1 - F.col("__n_dist__") / F.col("n_words"), 6)
                    .alias("dup_word_frac"),
                    F.round(F.col("__top_c__") / F.col("n_words"), 6)
                    .alias("top_word_frac"),
                    F.round(F.coalesce(
                        F.col("__top_bc__") / F.col("__n_bg__"),
                        F.lit(0.0)), 6)
                    .alias("top_bigram_frac")))


def _sample_stratified(spark, sf_dir):
    """Stratified sampling with deterministic per-stratum rates — the
    oracle-checkable twin of DataFrame.sampleBy (reference: Sample.java
    per-key variants).  A 3-hex-digit md5 bucket of the id is compared
    against a per-language threshold (hex-string comparison is
    monotonic), so both engines select the identical subset.  One scan
    + pushed filter, no shuffle."""
    d = load_table(spark, "documents", sf_dir)
    thr = (F.when(F.col("lang") == "en", "800")
           .when(F.col("lang") == "de", "400")
           .when(F.col("lang") == "fr", "200")
           .when(F.col("lang") == "es", "600")
           .otherwise("100"))
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 3)
    return d.filter(h < thr).select("doc_id", "lang")


def _mixture_cap_tokens(spark, sf_dir):
    """Data-mixture construction (operators/mixing.py): per-source token
    budgets enforced by a hierarchical (bucketed) deterministic prefix
    sum — no single-reducer running total, no RNG."""
    from apache_beam_spark.operators.mixing import cap_tokens_per_source

    return cap_tokens_per_source(
        load_table(spark, "documents", sf_dir),
        budgets={"src0": 1000, "src1": 200, "src5": 0},
        default_budget=600)


def _train_val_test_split(spark, sf_dir):
    """Deterministic stratified 3-way split (80/10/10 per language):
    the md5 hex of the id against fixed thresholds — reproducible
    across runs/engines, no RNG state, stratification is free because
    the hash is independent of the stratum.  One scan, zero shuffles."""
    d = load_table(spark, "documents", sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")),
                    1, 3)
    split = (F.when(h < "ccd", "train")      # 0xccc/0xfff ~= 0.8
             .when(h < "e66", "val")         # next ~0.1
             .otherwise("test"))
    return d.select("doc_id", "lang", split.alias("split"))


def _value_zscore_outliers(spark, sf_dir):
    """Per-type anomaly flagging: events whose value deviates > 2.5
    sample-stddevs from their type's mean.  The per-type stats are an
    in-plan aggregate broadcast back (tiny side), not a driver round
    trip; one scan + one broadcast join."""
    ev = load_table(spark, "events", sf_dir)
    # exact-decimal moments (order-independent sums) -> mu/sd derived
    # identically in both engines; plain double AVG/STDDEV flip the
    # 6th decimal with partition order at scale (the
    # source_quality_report flake class)
    vdec = F.col("value").cast("decimal(18,2)")
    nn = F.count(F.lit(1))
    s1 = F.sum(vdec).cast("double")
    s2 = F.sum((vdec * vdec).cast("decimal(38,4)")).cast("double")
    stats = ev.groupBy("event_type").agg(
        (s1 / nn).alias("__mu__"),
        F.sqrt((s2 - s1 * s1 / nn) / (nn - 1)).alias("__sd__"))
    return (ev.join(F.broadcast(stats), on="event_type")
            .withColumn("z", F.round((F.col("value") - F.col("__mu__"))
                                     / F.col("__sd__"), 6))
            .filter(F.abs(F.col("z")) > 2.5)
            .select("event_id", "event_type", "value", "z"))


def _rfm_segments(spark, sf_dir):
    """Customer RFM analysis: recency (days since last order, against
    the corpus max date computed in-plan), frequency (order count),
    monetary (decimal-exact spend) + a coarse segment label — the
    classic retention cut, one shuffle on the customer key."""
    o = load_table(spark, "orders", sf_dir)
    anchor = o.agg(F.max("o_orderdate").alias("__d0__"))
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        _dsum("o_totalprice", "monetary"))
    return (per_cust.join(F.broadcast(anchor))
            .withColumn("recency_days",
                        F.datediff(F.col("__d0__"), F.col("last_order"))
                        .cast("int"))
            .withColumn("segment",
                        F.when((F.col("recency_days") <= 180)
                               & (F.col("frequency") >= 10), "champion")
                        .when(F.col("recency_days") <= 180, "active")
                        .when(F.col("frequency") >= 10, "at_risk_big")
                        .otherwise("dormant"))
            .select("o_custkey", "recency_days", "frequency",
                    "monetary", "segment"))


def _quality_percentile(spark, sf_dir):
    """Global CDF normalization of the quality score
    (operators/ranks.py): every doc's corpus-wide percent rank WITHOUT
    a global sort — order-aligned score buckets rank in parallel, the
    per-bucket offsets come from a window over the tiny bucket-count
    aggregate.  The oracle is the naive single-sort formula, proving
    the hierarchical plan computes the identical ranks."""
    from apache_beam_spark.operators.ranks import global_percent_rank
    from apache_beam_spark.plans.caching import cache_scoped
    from apache_beam_spark.plans.partitioning import parallelize_narrow

    d = load_table(spark, "documents", sf_dir)
    # the stopword/punctuation tokenization inside quality_score is the
    # CPU stage and feeds BOTH rank branches (bucket counts + the
    # ranked join) — fan the single-split scan out first (no-op at
    # scale) and cache the (id, q) frame (optimization r13): uncached,
    # each branch re-tokenized its own subtree, and the ranked-join
    # branch's inferred isnotnull(q) constraint was pushed below the
    # fan-out exchange, re-running the WHOLE scoring expression
    # serially inside the single-task scan stage (the guide §4.4
    # duplicated-evaluation pathology via InferFiltersFromConstraints)
    scored = cache_scoped(
        parallelize_narrow(d.select("doc_id", "text"), weight=8)
        .select("doc_id", T.quality_score(F.col("text")).alias("q")))
    return global_percent_rank(scored, F.col("q"), "doc_id")


def _feature_store_events(spark, sf_dir):
    """Per-event training-feature materialization — the events-side
    flagship composition: at EVERY event, point-in-time-correct
    (1) trailing-1h activity (range frame), (2) most recent PRIOR
    purchase timestamp (as-of, rows frame over preceding rows only —
    no leakage), (3) the session the event belongs to (gaps-and-
    islands running max).  All three window families share the
    (user_id, ts) partitioning and sort, so the whole feature table is
    ONE keyed shuffle + one sort — the shape a feature-store backfill
    needs at 100 TB."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, "events", sf_dir)
    sec = F.col("ts").cast("timestamp").cast("long")
    # RANGE frames are value-based (all equal-second rows in frame), so
    # w_1h orders by sec alone; the ROWS frames and lag() tie-break on
    # event_id so same-second events per user are deterministic and
    # identical to the oracle's ordering.
    by_user = W.partitionBy("user_id").orderBy(sec, "event_id")
    w_1h = (W.partitionBy("user_id").orderBy(sec)
            .rangeBetween(-3600, 0))
    w_prev = by_user.rowsBetween(W.unboundedPreceding, -1)
    w_run = by_user.rowsBetween(W.unboundedPreceding, 0)

    gap = sec - F.lag(sec).over(by_user)
    new_session = F.when(gap.isNull() | (gap > 1800), sec)
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w_1h).alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w_1h)
                .cast("double"), 6).alias("sum_1h"),
        F.max(F.when(F.col("event_type") == "purchase", sec)).over(w_prev)
        .alias("last_purchase_s"),
        F.max(new_session).over(w_run).alias("session_start_s"),
    )


def _table_profile(spark, sf_dir):
    """One-pass table profiler (the engine-utility df.describe() twin,
    but exact and unpivoted): per column of orders — row count, nulls,
    exact distinct count, min/max as strings.  ONE aggregate job
    computes every column's stats (no per-column scans); the unpivot is
    a zero-shuffle stack of the single result row."""
    o = load_table(spark, "orders", sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols)
    return one.select(F.expr(
        f"stack({len(cols)}, {stacked}) AS "
        "(column, n, nulls, n_distinct, min_s, max_s)"))


def _props_flatten(spark, sf_dir):
    """Typed JSON flattening (from_json with an explicit schema, not
    per-field string extraction): parse events.props into a struct and
    aggregate on the typed field — the schema'd path Catalyst can prune
    and push, unlike get_json_object string probing."""
    ev = load_table(spark, "events", sf_dir)
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k int").alias("p"))
    return (parsed.groupBy("event_type", (F.col("p.k") % 10).alias("k_mod"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("p.k").alias("k_min"),
                 F.max("p.k").alias("k_max")))


def _rolling_features(spark, sf_dir):
    """Point-in-time feature engineering: at EVERY event, the user's
    trailing-1-hour event count and value sum (range-framed window —
    per-event features, not per-window buckets; the training-data twin
    of the as-of join).  One keyed shuffle; the frame is computed
    inside the sort, no self-join."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = (W.partitionBy("user_id")
         .orderBy(F.col("ts").cast("timestamp").cast("long"))
         .rangeBetween(-3600, 0))
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w)
                .cast("double"), 6).alias("sum_1h"))


def _rollup_ohlc(spark, sf_dir):
    """Hourly OHLC downsampling per event_type (the classic
    time-series bar aggregation): open/close are the first/last value
    in (event-time, event_id) order — the deterministic tie-break the
    reference's Latest combine uses — high/low/n are plain aggregates.
    No value arithmetic (OHLC SELECTS values), so doubles hash
    exactly; one keyed window + one group-by shuffle."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "event_id", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"))
    ev = ev.withColumn(
        "bucket_h", F.expr("tus div 3600000000"))
    wa = W.partitionBy("event_type", "bucket_h").orderBy("tus", "event_id")
    wd = W.partitionBy("event_type", "bucket_h") \
        .orderBy(F.col("tus").desc(), F.col("event_id").desc())
    r = ev.withColumn("rn_a", F.row_number().over(wa)) \
          .withColumn("rn_d", F.row_number().over(wd))
    return (r.groupBy("event_type", "bucket_h")
            .agg(F.round(F.max(F.when(F.col("rn_a") == 1,
                                      F.col("value"))), 6).alias("open"),
                 F.round(F.max("value"), 6).alias("high"),
                 F.round(F.min("value"), 6).alias("low"),
                 F.round(F.max(F.when(F.col("rn_d") == 1,
                                      F.col("value"))), 6).alias("close"),
                 F.count(F.lit(1)).alias("n")))


def _fuzzy_join_customers(spark, sf_dir):
    """Entity resolution at edit distance 1 (dedup/fuzzy.py): all
    customer-name pairs within Levenshtein 1 via the symmetric-delete
    candidate scheme (SymSpell family — deletion-variant hash join,
    provably complete at k <= max_dist, never all-pairs) + exact
    levenshtein verify.  The oracle brute-forces the same predicate in
    DuckDB (both engines implement classic Levenshtein), proving the
    banded path loses no pair — the fuzzy-match analogue of the
    MinHash-vs-exact twin discipline."""
    from apache_beam_spark.dedup.fuzzy import fuzzy_self_join

    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_name")
    return fuzzy_self_join(c, "c_custkey", "c_name", max_dist=1)


def _timeseries_gapfill(spark, sf_dir):
    """Dense hourly per-user series with linearly interpolated gaps
    (operators/timeseries.py::gap_fill_linear): sparse hourly event
    counts densified over each user's own [first, last] hour, gap
    buckets filled with the integer lerp — the series-regularization
    step every forecasting / feature pipeline needs before modeling.
    All integer arithmetic (floor of exact small-int products), so the
    whole dense result value-oracles against the identical SQL."""
    from apache_beam_spark.operators.timeseries import gap_fill_linear

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    hourly = (ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
        .alias("bucket_h"))
        .groupBy("user_id", "bucket_h")
        .agg(F.count(F.lit(1)).alias("n")))
    return gap_fill_linear(hourly, "user_id", "bucket_h", "n", step=1)


def _inverted_index(spark, sf_dir):
    """Posting-list materialization: word -> (df, first 20 doc ids in
    order) for words of >= 4 chars — the search-index build step.  The
    postings cap keeps hot words from dominating reducer memory
    (sort_array + slice INSIDE the aggregate, no global sort)."""
    d = load_table(spark, "documents", sf_dir)
    w = d.select("doc_id",
                 F.explode(T.word_tokens(F.col("text"))).alias("word")) \
        .filter(F.length("word") >= 4).distinct()
    return (w.groupBy("word")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.array_join(
                     F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                     ",").alias("postings")))


def _dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup: a NEW batch exact-deduped against
    the EXISTING corpus (doc_id < 250) by normalized-text fingerprint —
    an anti join on the md5, so only fingerprints shuffle and the
    existing corpus is never rewritten; in-batch keep-first applies the
    same witness rule as exact_dedup.  The corpus has no natural exact
    dups (dedup_exact keeps all 500), so the new batch PLANTS them:
    docs >= 250 plus copies of docs 0..49 (re-idd +10000; cross-batch
    dups the anti join must drop) plus a copy of doc 300 (id 10300; an
    in-batch dup keep-first must drop)."""
    d = load_table(spark, "documents", sf_dir)
    fp = T.fingerprint(F.col("text")).alias("fp")
    base = d.select("doc_id", fp)
    new = (base.filter(F.col("doc_id") >= 250)
           .unionByName(base.filter(F.col("doc_id") < 50)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp"))
           .unionByName(base.filter(F.col("doc_id") == 300)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp")))
    old = base.filter(F.col("doc_id") < 250).select("fp")
    from pyspark.sql.window import Window as W

    first_in_batch = F.row_number().over(
        W.partitionBy("fp").orderBy("doc_id")) == 1
    return (new.join(old, on="fp", how="left_anti")
            .withColumn("__keep__", first_in_batch)
            .filter("__keep__").select("doc_id"))


def _incremental_minhash_io(spark, sf_dir):
    """Shared planted hist/batch construction for the incremental
    near-dup twins: history = docs < 250; batch = docs >= 250 plus
    one-word-PERTURBED copies of docs 0..49 re-idd +10000 (near-dups
    the exact fingerprint anti join cannot catch but the index probe
    must) plus a perturbed copy of doc 300 (an in-batch near-dup the
    bucket-min rule handles)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    hist = d.filter(F.col("doc_id") < 250)
    perturb = F.concat(F.col("text"), F.lit(" zzz")).alias("text")
    batch = (d.filter(F.col("doc_id") >= 250)
             .unionByName(d.filter(F.col("doc_id") < 50)
                          .select((F.col("doc_id") + 10000).alias("doc_id"),
                                  perturb))
             .unionByName(d.filter(F.col("doc_id") == 300)
                          .select((F.col("doc_id") + 10000).alias("doc_id"),
                                  perturb)))
    return hist, batch


def _dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup ingest, xxhash64 fast path — the LSH twin
    of the exact `dedup_incremental` anti join (dedup/minhash.py::
    minhash_band_index + minhash_dedup_incremental): the kept corpus
    persists only its DISTINCT (band, bh) bucket index; the planted
    batch is deduped by one semi join against the index plus one
    in-batch bucket-min, the corpus never rewritten.  Engine-specific
    hashes, so rows-only — the md5 twin
    `dedup_incremental_minhash_md5` value-oracles the identical keep
    rule (the `dedup_minhash`/`dedup_minhash_md5` convention), and
    tests/test_twin_parity.py pins this path's kept-set size equal to
    that twin's on the fixed corpus."""
    from apache_beam_spark.dedup.minhash import (
        minhash_band_index, minhash_dedup_incremental)

    hist, batch = _incremental_minhash_io(spark, sf_dir)
    index = minhash_band_index(hist, hashing="xx")
    return minhash_dedup_incremental(batch, index, hashing="xx")


def _dedup_incremental_minhash_md5(spark, sf_dir):
    """The md5 verification twin of `dedup_incremental_minhash`: same
    planted batch, same keep rule, every hash an md5 hex substring —
    the whole collision structure (which perturbed copies still
    collide, which survive) reproduces bit-identically in DuckDB, so
    the incremental ingest rule is value-oracled, nothing
    probabilistic assumed."""
    from apache_beam_spark.dedup.minhash import (
        minhash_band_index, minhash_dedup_incremental)

    hist, batch = _incremental_minhash_io(spark, sf_dir)
    index = minhash_band_index(hist, hashing="md5")
    return minhash_dedup_incremental(batch, index, hashing="md5")


def _dedup_incremental_bloom(spark, sf_dir):
    """The same incremental-ingest dedup as `dedup_incremental` (same
    planted batch, same witness rule) routed through the Bloom-pruned
    anti join (dedup/bloom.py): a bitmap over the history fingerprints
    is built once as a (word_idx, word) frame, the batch is probed via
    k broadcast joins + one bitwise filter (definitely-absent rows
    never shuffle), and only Bloom-positive rows enter the exact
    anti-join verify.  Result is oracle-identical to the plain anti
    join — the filter prunes, never decides."""
    from apache_beam_spark.dedup.bloom import bloom_anti_join

    d = load_table(spark, "documents", sf_dir)
    fp = T.fingerprint(F.col("text")).alias("fp")
    base = d.select("doc_id", fp)
    new = (base.filter(F.col("doc_id") >= 250)
           .unionByName(base.filter(F.col("doc_id") < 50)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp"))
           .unionByName(base.filter(F.col("doc_id") == 300)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp")))
    old = base.filter(F.col("doc_id") < 250).select("fp")
    survivors = bloom_anti_join(new, old, "fp", fpp=0.01, expected=250)
    from pyspark.sql.window import Window as W

    first_in_batch = F.row_number().over(
        W.partitionBy("fp").orderBy("doc_id")) == 1
    return (survivors.withColumn("__keep__", first_in_batch)
            .filter("__keep__").select("doc_id"))


def _quantiles_per_key(spark, sf_dir):
    """Exact per-key quantiles (ApproximateQuantiles.perKey exact twin,
    reference transforms/ApproximateQuantiles.java:116): p50/p95 of
    value per event type via Spark's exact percentile aggregate —
    interpolation semantics verified identical to DuckDB
    quantile_cont."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"))


def _trending_topk(spark, sf_dir):
    """Sliding-window trending: top-2 event types per 1h/30m window by
    count (rank inside the windowed aggregate — the composition of
    SlidingWindows + Top.perKey the reference builds by hand)."""
    ev = load_table(spark, "events", sf_dir)
    agg = (ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                      "event_type")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("w.start").alias("ws"), "event_type", "n"))
    from pyspark.sql.window import Window as W

    r = F.row_number().over(
        W.partitionBy("ws").orderBy(F.col("n").desc(), "event_type"))
    return agg.withColumn("rank", r).filter(F.col("rank") <= 2)


def _value_histogram(spark, sf_dir):
    """Corpus profiling: equal-width histogram of the events value
    column (20 bins of width 25 over [0, 500)) — one scan, one narrow
    agg."""
    ev = load_table(spark, "events", sf_dir)
    b = F.floor(F.col("value") / 25).cast("int")
    bin_ = F.when(b < 0, -1).when(b >= 20, 20).otherwise(b)
    return (ev.groupBy(bin_.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 _dsum("value", "sum_value", 4)))


def _game_stats_spam(spark, sf_dir):
    """examples/java8/.../game/GameStats.java:122-142 — spammy-user
    detection: users whose event volume exceeds 1.15x the global mean
    user volume.  The global mean is an in-plan single-row aggregate
    broadcast back (the reference's View.asSingleton side input), not
    a driver-side collect."""
    ev = load_table(spark, "events", sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"))
    mean = per_user.agg(
        F.round(F.sum("n_events") / F.count(F.lit(1)), 6).alias("__mean__"))
    return (per_user.join(F.broadcast(mean))
            .filter(F.col("n_events") > 1.15 * F.col("__mean__"))
            .select("user_id", "n_events"))


def _funnel_instances(spark, sf_dir):
    """Sequence-pattern instances (operators/sequences.py): each view
    -> earliest click within 1 day -> earliest purchase within 1 day
    of that click; one window pass + one keyed join per chained step."""
    from apache_beam_spark.operators.sequences import funnel_instances

    return funnel_instances(load_table(spark, "events", sf_dir),
                            steps=["view", "click", "purchase"],
                            within_each="1 day")


def _epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle (operators/shuffle.py): seeded
    (shard, pos) dataloader addressing; shard = leading hex digits of
    the key, so shards partition the global permutation order."""
    from apache_beam_spark.operators.shuffle import epoch_shuffle

    return epoch_shuffle(load_table(spark, "documents", sf_dir), seed=0)


def _user_sessions(spark, sf_dir):
    """examples TopWikipediaSessions.java: sessionize events per user
    (30-min gap), emit per-session event counts.  Session windows via
    session_window; the oracle reproduces them with gaps-and-islands
    SQL (lag + cumulative sum), proving semantic equivalence."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"), "n_events"))


def _asof_last_purchase(spark, sf_dir):
    """As-of (point-in-time) join: every event annotated with the same
    user's most recent purchase timestamp — the canonical
    point-in-time-correct feature lookup.  Merge-based (one keyed
    shuffle, running last() fill), no range-join explosion."""
    from apache_beam_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(ev, purchases, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=[])
    return out.select("event_id", "user_id", "ts",
                      F.col("__asof_ts__").alias("last_purchase_ts"))


def _rollup_daily(spark, sf_dir):
    """Hypertable-style cascade: hourly aggregates re-aggregated to
    daily (1 scan + tiny re-agg instead of 2 scans); the oracle computes
    daily directly from raw rows, proving the cascade exact."""
    from apache_beam_spark.operators.rollup import rollup_windows

    ev = load_table(spark, "events", sf_dir) \
        .withColumn("value_dec", F.col("value").cast("decimal(18,4)"))
    levels = rollup_windows(
        ev, "ts", ["event_type"],
        {"total": "sum:value_dec", "n": "count", "vmax": "max:value"},
        ["1 hour", "1 day"],
    )
    day = levels["1 day"]
    return day.select(
        F.col("window.start").alias("day"), "event_type",
        F.col("total").cast("double").alias("total"), "n", "vmax")


def _range_join_followups(spark, sf_dir):
    """Range join: (purchase, error) pairs of the same user where the
    error occurred within 30 minutes AFTER the purchase — bucketized
    equi-join on (user, time-bin), not a nested loop."""
    from apache_beam_spark.operators.rangejoin import range_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("pts"))
    errors = ev.filter(F.col("event_type") == "error") \
        .select("user_id", F.col("event_id").alias("error_id"),
                F.col("ts").alias("ets"))
    out = range_join(purchases, errors, on="user_id", left_ts="pts",
                     right_ts="ets", lower="0 seconds", upper="30 minutes")
    return out.select("user_id", "purchase_id", "error_id")


def _sum_mean_global(spark, sf_dir):
    """Combine.globally (Combine.java:100) / Sum / Mean.globally
    (Sum.java:52, Mean.java:66): single-row global aggregate."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        _dsum("l_quantity", "total_qty"),
        _davg("l_extendedprice", "mean_price"),
        F.count(F.lit(1)).alias("n"),
    )


def _latest_global(spark, sf_dir):
    """Latest.globally (Latest.java:57): the element with the maximum
    timestamp (event_id desc as deterministic tiebreak)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(1)
            .select("event_id", "ts", "event_type"))


_Q3_SQL = """
    SELECT l_orderkey,
           CAST(SUM({disc}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10"""

_Q6_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24"""


_Q5_SQL = """
    SELECT n_name,
           CAST(SUM({disc}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

_Q10_SQL = """
    SELECT c_custkey, c_name,
           CAST(SUM({disc}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""

_Q14_SQL = """
    SELECT CAST(100.00 * SUM(CASE WHEN p_type = 'PROMO' THEN {disc}
                                  ELSE CAST(0 AS DECIMAL(18,2)) END)
                / SUM({disc}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'"""

_Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100"""


_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year, {disc} AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year"""

_Q8_SQL = """
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year, {disc} AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year ORDER BY o_year"""

_Q17_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey)"""

_Q19_SQL = """
    SELECT CAST(SUM({disc}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)"""

# Q2 adapted (no partsupp table in the reduced schema): the
# supplier-part relation and supply cost are derived from lineitem as
# MIN(unit price) per (part, supplier); the correlated min-cost
# subquery shape of the original is preserved verbatim.
_Q2_SQL = """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) / l_quantity,
                       4)) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           CAST(ps_supplycost AS DOUBLE) AS supp_cost
    FROM part
    JOIN ps ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 10 AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost) FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100"""

# Q9 adapted: ps_supplycost -> 5% of p_retailprice as the unit cost.
_Q9_SQL = """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                - 0.05 * p_retailprice * l_quantity
                AS DECIMAL(18,4))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)"""

# Q11 adapted: "stock value" of a part held by one nation's suppliers
# := their lineitem revenue for it; the correlated global-fraction
# HAVING of the original becomes the scalar subquery on the CTE.
_Q11_SQL = """
    WITH val AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3' GROUP BY l_partkey)
    SELECT l_partkey AS ps_partkey, CAST(value AS DOUBLE) AS part_value
    FROM val WHERE value > (SELECT SUM(value) * 0.002 FROM val)"""

# Q16 adapted: the supplier-part relation comes from lineitem; the
# "customer complaints" NOT IN exclusion becomes negative-balance
# suppliers.
_Q16_SQL = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size"""

# Q20 adapted: availqty -> shipped quantity in the window; a supplier
# qualifies when it carried >30% of some matching part's 1996 volume.
_Q20_SQL = """
    WITH sp AS (
      SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2)))
                 AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%gear%'
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_suppkey, l_partkey),
    pt AS (SELECT l_partkey, SUM(qty) AS total FROM sp GROUP BY l_partkey)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5' AND s_suppkey IN (
      SELECT l_suppkey FROM sp JOIN pt USING (l_partkey)
      WHERE qty > 0.3 * total)"""

# Q21 adapted (no receipt/commit dates): "kept waiting" := shipped more
# than 60 days after the order date; the EXISTS / NOT EXISTS
# multi-supplier-order shape of the original is preserved.
_Q21_SQL = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100"""

# Q13 adapted to the reduced schema: orders has no o_comment, so the
# "not like '%special%requests%'" exclusion becomes an o_orderpriority
# filter — same plan shape (left outer join with a pushed filter on the
# right side, then a two-level aggregation over the count distribution).
_Q13_SQL = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

# Q15 verbatim modulo the date window (data spans 1995..2001): CTE
# revenue view, scalar-subquery max, join back to supplier.  Decimal
# sums keep the max-equality comparison exact in both engines.
_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, SUM({disc}) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey"""

# Q4 adapted: lineitem has no l_commitdate/l_receiptdate, so "late
# lineitem exists" becomes "lineitem shipped after the order date" —
# same plan shape (EXISTS semi-join into a priority-distribution agg).
_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

# Q12 adapted: no l_shipmode column, so l_returnflag plays the
# two-valued mode dimension; the high/low priority split and the
# join+filter+conditional-agg shape are verbatim.  COUNT(CASE) rather
# than SUM(CASE) keeps both engines in BIGINT (DuckDB SUM(int) is
# HUGEINT, which pandas floats).
_Q12_SQL = """
    SELECT l_returnflag AS shipmode,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

# Q22 adapted: customer has no c_phone, so the country-code prefix
# grouping becomes c_nationkey and the "never ordered" anti-join becomes
# "has no URGENT order" (every sf's customer set has at least one order,
# which would make the verbatim predicate vacuous).  Plan shape is
# preserved: uncorrelated scalar-subquery average + NOT EXISTS anti-join
# + final aggregation.
_Q22_SQL = """
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(CAST(c_acctbal AS DOUBLE))
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY cntrycode"""


def _sql_passthrough(sql_tmpl, label="TPC-H query"):
    """Query factory for TPC-H passthrough SQL: register views, run the
    exact text Catalyst-side; the oracle runs the SAME text in DuckDB."""
    def fn(spark, sf_dir):
        from apache_beam_spark.sources.tables import register_views

        register_views(spark, sf_dir)
        return spark.sql(sql_tmpl.format(disc=_SQL_DISC_PRICE))
    fn.__doc__ = (f"{label}: identical SQL text planned by Catalyst and "
                  "by DuckDB (the strongest parity form — zero "
                  "translation surface).")
    return fn


_q5_local_supplier = _sql_passthrough(_Q5_SQL)
_q7_volume_shipping = _sql_passthrough(_Q7_SQL)
_q8_market_share = _sql_passthrough(_Q8_SQL)
_q10_returned_items = _sql_passthrough(_Q10_SQL)
_q14_promo_effect = _sql_passthrough(_Q14_SQL)
_q17_small_qty = _sql_passthrough(_Q17_SQL)
_q18_large_volume = _sql_passthrough(_Q18_SQL)
_q19_discounted = _sql_passthrough(_Q19_SQL)
_q13_customer_distribution = _sql_passthrough(_Q13_SQL)
_q15_top_supplier = _sql_passthrough(_Q15_SQL)
_q22_global_sales = _sql_passthrough(_Q22_SQL)
_q4_order_priority = _sql_passthrough(_Q4_SQL)
_q12_shipmode_priority = _sql_passthrough(_Q12_SQL)
_q2_min_cost_supplier = _sql_passthrough(_Q2_SQL)
_q9_product_profit = _sql_passthrough(_Q9_SQL)
_q11_important_stock = _sql_passthrough(_Q11_SQL)
_q16_parts_suppliers = _sql_passthrough(_Q16_SQL)
_q20_potential_promotion = _sql_passthrough(_Q20_SQL)
_q21_waiting_suppliers = _sql_passthrough(_Q21_SQL)


def _q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 via the SQL passthrough surface (Pipeline.sql /
    register_views): 3-way join + agg + top-10, all planned by Catalyst
    from SQL text."""
    from apache_beam_spark.sources.tables import load_table as _lt

    for t in ("customer", "orders", "lineitem"):
        _lt(spark, t, sf_dir).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL.format(disc=_SQL_DISC_PRICE))


def _q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-agg — every predicate pushed to the
    parquet scan."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


def _bm25_search(spark, sf_dir):
    """BM25 retrieval (operators/retrieval.py): top-20 documents for a
    three-term query, Lucene-style idf; the query term set broadcasts
    so corpus tokens are filtered before any shuffle and the global
    top-k is a TakeOrderedAndProject, not a one-partition window."""
    from apache_beam_spark.operators.retrieval import bm25_topk

    return bm25_topk(load_table(spark, "documents", sf_dir),
                     ["spark", "join", "filter"], k=20)


def _zorder_oracle_sql() -> str:
    from apache_beam_spark.plans.layout import zvalue_sql

    return f"""
        SELECT event_id, ({zvalue_sql(['ub', 'db'], 10)}) AS zval FROM (
            SELECT event_id, user_id % 1024 AS ub,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS db
            FROM events)"""


_CDC_CUTOFF = "2024-01-20 00:00:00"


def _cdc_changes(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    return (ev.filter(F.col("ts") >= F.lit(_CDC_CUTOFF).cast("timestamp"))
            .select("user_id", "event_id", "ts", "value",
                    F.when(F.col("event_type") == "error", F.lit("D"))
                    .otherwise(F.lit("U")).alias("op")))


def _cdc_upsert_snapshot(spark, sf_dir):
    """CDC latest-wins upsert merge (operators/cdc.py apply_changes):
    the per-user state before a cutoff is the base snapshot; events
    after it form the changelog (error rows = deletes).  One keyed
    shuffle across window + anti join + union."""
    from apache_beam_spark.operators.cdc import apply_changes, latest_changes

    ev = load_table(spark, "events", sf_dir)
    base = latest_changes(
        ev.filter(F.col("ts") < F.lit(_CDC_CUTOFF).cast("timestamp"))
        .select("user_id", "event_id", "ts", "value"),
        keys=["user_id"], seq_col="ts", tiebreak="event_id")
    return apply_changes(base, _cdc_changes(spark, sf_dir),
                         keys=["user_id"], seq_col="ts",
                         tiebreak="event_id").select(
        "user_id", "event_id", "ts", "value")


def _scd2_user_history(spark, sf_dir):
    """SCD2 history build (operators/cdc.py scd2_history): purchase
    events become validity-interval version rows per user (valid_from =
    event time, valid_to = next purchase, NULL = current)."""
    from apache_beam_spark.operators.cdc import scd2_history

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("event_type") == "purchase")
          .select("user_id", "event_id", "ts", "value"))
    return scd2_history(ev, keys=["user_id"], seq_col="ts",
                        tiebreak="event_id").select(
        "user_id", "event_id", "ts", "value",
        "valid_from", "valid_to", "is_current")


def _mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture (operators/mixing.py
    temperature_budgets, T=2 — the UniMax recipe): per-source budgets
    proportional to sqrt(natural token count), then the same
    hierarchical prefix-sum cap as mixture_cap_tokens.  The budget
    computation collects only #sources rows."""
    from apache_beam_spark.operators.mixing import (
        cap_tokens_per_source, temperature_budgets)

    docs = load_table(spark, "documents", sf_dir)
    budgets = temperature_budgets(docs, total_budget=30000, temperature=2.0)
    return cap_tokens_per_source(docs, budgets, default_budget=0)


def _source_drift_chisq(spark, sf_dir):
    """Distribution-drift monitor: chi-square of each source's token
    distribution against the corpus-wide distribution, over the 50
    most common corpus tokens (the bounded-vocabulary discipline —
    kilobyte frames broadcast everywhere, one token-explode shuffle).
    High chi2 = the source's language differs from the mixture."""
    d = load_table(spark, "documents", sf_dir)
    toks_df = d.select("source",
                       F.explode(T.word_tokens(F.col("text"))).alias("t"))
    corpus = toks_df.groupBy("t").agg(F.count(F.lit(1)).alias("ct"))
    top = corpus.orderBy(F.col("ct").desc(), "t").limit(50)
    tot = toks_df.count()
    obs = (toks_df.join(F.broadcast(top.select("t")), on="t")
           .groupBy("source", "t").agg(F.count(F.lit(1)).alias("o")))
    src_tot = toks_df.groupBy("source").agg(F.count(F.lit(1)).alias("st"))
    cells = (obs.join(F.broadcast(top), on="t")
             .join(F.broadcast(src_tot), on="source")
             .withColumn("e", F.col("st") * F.col("ct") / F.lit(float(tot)))
             .withColumn("cell",
                         (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                         / F.col("e")))
    # fold cells in sorted token order per source: deterministic
    # cross-engine double summation (same discipline as char_entropy)
    return (cells.groupBy("source")
            .agg(F.aggregate(
                F.array_sort(F.collect_list(F.struct("t", "cell"))),
                F.lit(0.0),
                lambda acc, x: acc + x.getField("cell")).alias("chi2"))
            .select("source", F.round("chi2", 6).alias("chi2")))


def _event_paths_top(spark, sf_dir):
    """Path mining: the 20 most common 3-step event-type sequences
    across user journeys (lead-window trigram over each user's
    time-ordered stream — one keyed shuffle, no self-joins), with
    deterministic (ts, id) ordering."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (ev.select(
        "user_id",
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"))
        .filter(F.col("s3").isNotNull()))
    counted = paths.groupBy("s1", "s2", "s3").agg(
        F.count(F.lit(1)).alias("n"))
    top = counted.orderBy(F.col("n").desc(), "s1", "s2", "s3").limit(20)
    return top.withColumn(
        "pos", F.row_number().over(
            W.orderBy(F.col("n").desc(), "s1", "s2", "s3")))


def _embed_knn_int8(spark, sf_dir):
    """Top-3 cosine neighbors over the INT8-QUANTIZED corpus (the
    compressed-store search path): cosine of code vectors — the
    per-vector scales cancel, so every sum is EXACT integer
    arithmetic and only the final division is floating point, making
    the approximate search fully value-oracled (unlike float ANN).
    Recall vs exact kNN is the quantization error, not engine noise."""
    from apache_beam_spark.functions.vectors import quantize_int8

    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.select("vec_id",
                    quantize_int8(F.col("embedding")).getField("q").alias("q"))
    q = qv.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"))
    c = qv.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("q").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb",
                   lambda a, b: (a.cast("bigint") * b.cast("bigint"))),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    nrm = lambda col: F.aggregate(  # noqa: E731
        F.col(col), F.lit(0).cast("bigint"),
        lambda acc, v: acc + v.cast("bigint") * v.cast("bigint"))
    joined = (q.crossJoin(F.broadcast(c))
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (dot.cast("double")
                       / (F.sqrt(nrm("qa").cast("double"))
                          * F.sqrt(nrm("qb").cast("double"))))
                      .alias("sim")))
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


def _regex_kv_pairs(spark, sf_dir):
    """Regex.matchesKV (reference transforms/Regex.java:137): the
    events props JSON mined as (key, value) pairs by group extraction;
    non-matching rows dropped as the reference does."""
    from apache_beam_spark.operators.elementwise import Regex

    p = Pipeline(spark)
    pc = p.from_df(load_table(spark, "events", sf_dir)
                   .select("event_id", "props"))
    out = pc | Regex.matches_kv(
        "props", '"([a-z]+)": (\\d+)', key_alias="k", value_alias="v")
    return out.df.select("event_id", "k", F.col("v").cast("long").alias("v"))


def _media_dedup(spark, sf_dir):
    """Exact media dedup by content hash (the byte-level first pass of
    any media pipeline): payloads hashed JVM-side (sha2-256, no
    decode), keep-first per digest.  Duplicate payloads are PLANTED
    (docs < 50 re-encoded under new ids) since the corpus has none;
    only (id, digest) ever shuffles — payload bytes stay at the
    scan."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    planted = d.unionByName(
        d.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "payload"))
    hashed = planted.select(
        "doc_id", F.sha2(F.col("payload"), 256).alias("digest"))
    from pyspark.sql.window import Window as W

    keep = F.row_number().over(
        W.partitionBy("digest").orderBy("doc_id")) == 1
    return (hashed.withColumn("__k__", keep).filter("__k__")
            .groupBy().agg(F.count(F.lit(1)).alias("n_kept"),
                           F.sum(F.col("doc_id")).alias("id_sum")))


def _sales_cube(spark, sf_dir):
    """OLAP cube (GROUPING SETS family): sums over every combination
    of (l_returnflag, l_linestatus) incl. subtotals and grand total,
    with GROUPING ids disambiguating NULL-as-all from NULL-as-value —
    Catalyst expands the cube in ONE aggregation pass (no N scans)."""
    li = load_table(spark, "lineitem", sf_dir) \
        .withColumn("qdec", F.col("l_quantity").cast("decimal(18,2)"))
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.sum("qdec").cast("double").alias("sum_qty"),
                 F.count(F.lit(1)).alias("n"),
                 F.grouping_id("l_returnflag", "l_linestatus")
                 .alias("gid")))


def _event_type_unpivot(spark, sf_dir):
    """Unpivot (melt/stack): the per-day event_type pivot folded back
    into long form — the inverse of event_type_pivot, proving the
    wide<->long round trip lossless.  stack() is a generator
    expression, zero extra shuffles beyond the pivot's."""
    ev = load_table(spark, "events", sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
            .pivot("event_type", types)
            .agg(F.count(F.lit(1))))
    stack_expr = ", ".join(f"'{t}', `{t}`" for t in types)
    return (wide.selectExpr(
        "day", f"stack({len(types)}, {stack_expr}) AS (event_type, n)")
        .filter(F.col("n").isNotNull()))


def _delta_encode_series(spark, sf_dir):
    """Delta encoding of per-user value series (the time-series
    compression primitive): value - lag(value) per user in (ts, id)
    order, then reconstructed by a running sum over the deltas.  The
    oracle replays the identical encode->decode pipeline (matching
    floating-point telescoping exactly); reconstruction equals the
    original to ~1e-10 (float error accumulation, not data loss).
    One keyed shuffle shared by both windows."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    delta = (F.col("value")
             - F.coalesce(F.lag("value").over(w), F.lit(0.0)))
    run = W.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(W.unboundedPreceding, 0)
    d = ev.select("user_id", "event_id", "ts", delta.alias("d"))
    return d.select(
        "user_id", "event_id",
        F.round(F.sum("d").over(run), 6).alias("value_reconstructed"))


def _snapshot_diff(spark, sf_dir):
    """Snapshot diff -> changelog (operators/cdc.py derive_changes,
    the inverse of apply_changes — tested round-trip law): the
    per-user state before the cutoff vs the final state, emitted as
    I/U/D rows.  One full-outer join on the key; NULL-safe struct
    comparison."""
    from apache_beam_spark.operators.cdc import derive_changes, latest_changes

    ev = load_table(spark, "events", sf_dir)
    snap = lambda d: latest_changes(  # noqa: E731
        d.select("user_id", "event_id", "ts", "value"),
        keys=["user_id"], seq_col="ts", tiebreak="event_id")
    old = snap(ev.filter(F.col("ts") < F.lit(_CDC_CUTOFF).cast("timestamp")))
    new = snap(ev)
    return derive_changes(old, new, keys=["user_id"])


def _embed_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization (functions/vectors.py
    quantize_int8 — the 4x embedding-store compression step) with a
    reconstruction-error report: scale, code checksum/extremes, and
    max |x - q*scale| per vector, all pure HOFs.  The oracle replays
    the identical arithmetic in DuckDB list functions."""
    from apache_beam_spark.functions.vectors import dequantize, quantize_int8

    emb = load_table(spark, "embeddings", sf_dir)
    qs = quantize_int8(F.col("embedding"))
    d = emb.select("vec_id", F.col("embedding").alias("x"), qs.alias("qs"))
    recon = dequantize(F.col("qs"))
    err = F.aggregate(
        F.zip_with(F.col("x"), recon,
                   lambda a, b: F.abs(a.cast("double") - b)),
        F.lit(0.0), lambda acc, v: F.greatest(acc, v))
    return d.select(
        "vec_id",
        F.round(F.col("qs.scale"), 6).alias("scale"),
        F.aggregate(F.col("qs.q"), F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v).alias("q_sum"),
        F.array_min("qs.q").alias("q_min"),
        F.array_max("qs.q").alias("q_max"),
        F.round(err, 6).alias("max_abs_err"))


def _hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (operators/
    retrieval.py rrf_fuse): BM25 relevance (top-100) fused with a
    document-quality ranking (top-100) at k=60 — the standard
    lexical+signal combiner of RAG search stacks.  Both rankers and
    the fusion are value-oracled end to end."""
    from pyspark.sql.window import Window as W

    from apache_beam_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = load_table(spark, "documents", sf_dir)
    r1 = bm25_topk(docs, ["spark", "join", "filter"], k=100)
    topq = (docs.select("doc_id", T.quality_score(F.col("text")).alias("q"))
            .orderBy(F.col("q").desc(), "doc_id").limit(100))
    r2 = topq.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("q").desc(), "doc_id")))
    return rrf_fuse([r1.select("doc_id", "rank"),
                     r2.select("doc_id", "rank")], k=60, top=20)


def _weighted_sample_docs(spark, sf_dir):
    """Weight-proportional sampling without replacement (operators/
    shuffle.py weighted_sample, Efraimidis-Spirakis): 100 docs sampled
    proportional to n_chars via seeded-md5 uniforms — deterministic,
    top-k plan shape (no global sort), oracle replays the identical
    arithmetic."""
    from apache_beam_spark.operators.shuffle import weighted_sample

    return weighted_sample(load_table(spark, "documents", sf_dir),
                           weight_col="n_chars", n=100)


def _url_domain_stats(spark, sf_dir):
    """URL extraction + per-domain rollup (the link-metadata pass of a
    web-corpus pipeline): URLs planted deterministically per doc,
    extracted with a Java∩RE2-portable regex, reduced to registrable
    domain, counted.  Pure codegen; one agg shuffle."""
    d = load_table(spark, "documents", sf_dir)
    text2 = F.concat(
        F.col("text"),
        F.lit(" see https://site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"),
        F.lit(" and http://ref"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/x"))
    urls = F.regexp_extract_all(text2, F.lit("https?://[^ ]+"), F.lit(0))
    domain = F.regexp_extract(F.col("url"), "^https?://([^/]+)", 1)
    return (d.select(F.explode(urls).alias("url"))
            .select(domain.alias("domain"))
            .groupBy("domain").agg(F.count(F.lit(1)).alias("n")))


def _unicode_nfc_stats(spark, sf_dir):
    """Unicode NFC hygiene (functions/text.py nfc_normalize): the
    corpus is perturbed with decomposed accents (every 'a' -> 'a' +
    U+0301), normalized back to NFC, and fingerprinted — the oracle
    runs DuckDB's nfc_normalize over the same perturbation, so the
    Python unicodedata path is value-checked char-for-char."""
    d = load_table(spark, "documents", sf_dir)
    decomposed = F.regexp_replace(
        F.col("text"), "a", "a\u0301")  # decomposed: a + combining acute
    norm = T.nfc_normalize(decomposed)
    return d.select(
        "doc_id",
        F.length(decomposed).alias("len_decomposed"),
        F.length(norm).alias("len_nfc"),
        F.md5(norm.cast("binary")).alias("nfc_md5"))


def _mad_outliers(spark, sf_dir):
    """Robust per-key outlier flagging via median absolute deviation
    (the z-score twin that survives heavy tails): per event_type,
    median and MAD of value (exact percentile, interpolation verified
    identical to DuckDB quantile_cont), then count |x - med| >
    3 * 1.4826 * MAD.  Two keyed aggs over one scan lineage — the
    medians frame is key-sized and broadcast back."""
    ev = load_table(spark, "events", sf_dir)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (ev.join(F.broadcast(med), on="event_type")
           .withColumn("absdev", F.abs(F.col("value") - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(absdev, 0.5)").alias("mad"))
    flagged = (dev.join(F.broadcast(mad.select("event_type", "mad")),
                        on="event_type")
               .withColumn("is_outlier",
                           F.col("absdev") > 3 * 1.4826 * F.col("mad")))
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("is_outlier").cast("bigint"))
                 .alias("n_outliers"))
            .join(mad, on="event_type")
            .select("event_type", "n", "n_outliers",
                    F.round("med", 6).alias("med"),
                    F.round("mad", 6).alias("mad")))


def _rollup_incremental(spark, sf_dir):
    """Incremental continuous-aggregate refresh (operators/rollup.py
    merge_rollups): the daily rollup computed as (rollup of history
    before Feb 15) merged with (rollup of the new partition) — the
    oracle aggregates the raw table directly, proving the mergeable
    refresh exact without a history rescan."""
    from apache_beam_spark.operators.rollup import merge_rollups, rollup_windows

    ev = load_table(spark, "events", sf_dir) \
        .withColumn("value_dec", F.col("value").cast("decimal(18,4)"))
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    aggs = {"total": "sum:value_dec", "n": "count", "vmax": "max:value"}
    old = rollup_windows(ev.filter(F.col("ts") < cutoff), "ts",
                         ["event_type"], aggs, ["1 day"])["1 day"]
    new = rollup_windows(ev.filter(F.col("ts") >= cutoff), "ts",
                         ["event_type"], aggs, ["1 day"])["1 day"]
    merged = merge_rollups(old, new, ["event_type"], aggs)
    return merged.select(
        F.col("window.start").alias("day"), "event_type",
        F.col("total").cast("double").alias("total"), "n", "vmax")


def _textrank_words(spark, sf_dir):
    """TextRank keyword extraction: PageRank (operators/graph.py, 5
    fixed power iterations, damping 0.85) over the undirected word
    adjacency graph of the corpus — top-30 words by rank.  Each
    iteration is one join + one keyed partial-agg shuffle; nothing
    collects but the node count."""
    from apache_beam_spark.operators.graph import pagerank

    d = load_table(spark, "documents", sf_dir)
    toks = d.select(T.word_tokens(F.col("text")).alias("tk"))
    pairs = (toks.select(F.explode(F.expr(
        "transform(sequence(0, size(tk) - 2), "
        "i -> struct(tk[i] as src, tk[i+1] as dst))")).alias("p"))
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst")))
    # one distinct, not two (optimization r13, guide §2.4): the
    # post-union distinct already dedups everything a pre-union
    # distinct would (and pagerank's degree count reads only this
    # deduped edge set), so the inner pass was a redundant shuffle
    edges = pairs.union(pairs.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))).distinct()
    pr = pagerank(edges, iters=5)
    top = pr.orderBy(F.col("rank").desc(), "node").limit(30)
    from pyspark.sql.window import Window as W

    return top.withColumn(
        "pos", F.row_number().over(
            W.orderBy(F.col("rank").desc(), "node"))).select(
        F.col("node").alias("word"), "rank", "pos")


def _textrank_oracle_sql() -> str:
    """DuckDB twin of _textrank_words: the 5 power iterations unrolled
    as chained CTEs (recursive CTEs can't aggregate), numerically the
    same loop."""
    iters, damping = 5, 0.85
    ctes = ["""t AS (SELECT {toks} AS tk FROM documents),
        pairs AS (
            SELECT DISTINCT tk[i + 1] AS src, tk[i + 2] AS dst
            FROM t, LATERAL (SELECT unnest(range(0, len(tk) - 1)) AS i)
            WHERE tk[i + 1] <> tk[i + 2]),
        edges AS (
            SELECT src, dst FROM pairs
            UNION
            SELECT dst AS src, src AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        deg AS (SELECT src AS node, COUNT(*) AS deg
                FROM edges GROUP BY src),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS (
            SELECT nd.node,
                   (1 - {damping}) / (SELECT n FROM nn)
                   + {damping} * COALESCE(c.inr, 0) AS rank
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, SUM(p.rank / d.deg) AS inr
                FROM r{i - 1} p
                JOIN edges e ON e.src = p.node
                JOIN deg d ON d.node = p.node
                GROUP BY e.dst) c ON c.node = nd.node)""")
    return ("WITH " + ",\n".join(ctes) + f"""
        SELECT node AS word, ROUND(rank, 6) AS rank,
               CAST(ROW_NUMBER() OVER (ORDER BY ROUND(rank, 6) DESC, node)
                    AS INT) AS pos
        FROM r{iters}
        ORDER BY ROUND(rank, 6) DESC, node LIMIT 30""")


def _char_entropy_quality(spark, sf_dir):
    """Character-entropy quality signal (functions/text.py
    char_entropy): bits/char of each document's character distribution
    — the compression-ratio proxy Gopher-family filters gate on.  Fold
    order is sorted-char on both engines, so the double summation is
    bit-identical."""
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id",
                    T.char_entropy(F.col("text")).alias("entropy_bits"))


def _attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: each purchase credits the
    latest prior view/click by the same user within 24 hours — the
    as-of join (operators/asof.py merge_asof semantics with tolerance)
    composed over two filtered branches of one events scan; one keyed
    shuffle, match is row-atomic."""
    from apache_beam_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("event_id").alias("purchase_id"),
                         "ts", F.col("value").alias("amount")))
    from pyspark.sql.window import Window as W

    touches = (ev.filter(F.col("event_type").isin("view", "click"))
               .select("user_id", F.col("ts").alias("touch_ts"),
                       F.col("event_id").alias("touch_id"),
                       F.col("event_type").alias("touch_type")))
    # one touch per (user, ts): equal-timestamp touches make the
    # carried row ambiguous — keep the max event_id (both engines)
    dedup_w = W.partitionBy("user_id", "touch_ts").orderBy(
        F.col("touch_id").desc())
    touches = (touches.withColumn("__rn__", F.row_number().over(dedup_w))
               .filter(F.col("__rn__") == 1).drop("__rn__"))
    out = asof_join(purchases, touches, on="user_id",
                    left_ts="ts", right_ts="touch_ts",
                    right_cols=["touch_id", "touch_type"],
                    tolerance="24 hours")
    return out.select("user_id", "purchase_id", "amount",
                      "touch_id", "touch_type")


def _ab_test_report(spark, sf_dir):
    """Two-sample experiment readout: users hash-bucketed into arms by
    a seeded md5 (the sample_deterministic addressing — no RNG state),
    per-(event_type, arm) exact-decimal means and variances, pooled
    into a Welch z-score per event_type.  One partial-agg shuffle;
    arms never materialize separately."""
    ev = load_table(spark, "events", sf_dir)
    h = F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))
              .cast("binary"))
    arm = F.when(F.substring(h, 1, 1) < "8", F.lit(0)) \
        .otherwise(F.lit(1)).alias("arm")
    d = ev.select("event_type", arm,
                  F.col("value").cast("decimal(18,2)").alias("v"))
    g = d.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, F.lit(1)).otherwise(F.lit(0)))
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.lit(1)).otherwise(F.lit(0)))
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("v"))
              .otherwise(F.lit(0).cast("decimal(18,2)"))).alias("s_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("v"))
              .otherwise(F.lit(0).cast("decimal(18,2)"))).alias("s_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("v") * F.col("v"))
              .otherwise(F.lit(0).cast("decimal(38,4)"))).alias("ss_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("v") * F.col("v"))
              .otherwise(F.lit(0).cast("decimal(38,4)"))).alias("ss_b"))
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    var_a = (F.col("ss_a").cast("double") / F.col("n_a")) - mean_a * mean_a
    var_b = (F.col("ss_b").cast("double") / F.col("n_b")) - mean_b * mean_b
    z = (mean_b - mean_a) / F.sqrt(var_a / F.col("n_a")
                                   + var_b / F.col("n_b"))
    return g.select("event_type", "n_a", "n_b",
                    F.round(mean_a, 6).alias("mean_a"),
                    F.round(mean_b, 6).alias("mean_b"),
                    F.round(z, 6).alias("z_score"))


def _readability_scores(spark, sf_dir):
    """Flesch reading ease per document (functions/text.py): vowel-run
    syllable estimate + terminator-run sentence estimate, all codegen
    Column regexps — the classic readability gate of quality
    pipelines."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(T.word_tokens(F.col("text"))).alias("n_words"),
        T.sentence_count(F.col("text")).alias("n_sentences"),
        T.syllable_count(F.col("text")).alias("n_syllables"),
        T.flesch_reading_ease(F.col("text")).alias("flesch"))


def _rate_limit_events(spark, sf_dir):
    """Per-key event-time token bucket (streaming/stateful.py): at most
    3 events per user per hour window, admitted in (ts, id) order —
    the batch twin of streaming_rate_limit (parity-tested in
    tests/test_rate_limit.py); one keyed shuffle."""
    from apache_beam_spark.streaming.stateful import rate_limit_batch

    return rate_limit_batch(load_table(spark, "events", sf_dir),
                            key="user_id", event_time="ts",
                            id_col="event_id", window_ms=3_600_000,
                            max_per_window=3)


def _dedup_keep_best(spark, sf_dir):
    """Exact dedup with QUALITY-aware survivor selection: duplicates
    are planted (docs < 50 re-id'd with their text perturbed to lower
    quality), grouped by normalized-text fingerprint, and the
    max-(quality, -doc_id) member survives via ONE max_by aggregate —
    keep-best instead of keep-first, the witness rule real corpus
    dedup wants.  Only (id, fp, quality) shuffles."""
    d = load_table(spark, "documents", sf_dir)
    # planted twins: same fingerprint (same normalized text), lower
    # quality via doubled punctuation
    twins = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !!! ??? !!!")).alias("text"))
    allc = d.select("doc_id", "text").unionByName(twins)
    fp = T.fingerprint(F.regexp_replace(F.col("text"),
                                        " !!! \\?\\?\\? !!!$", ""))
    scored = allc.select(
        "doc_id", fp.alias("fp"),
        T.quality_score(F.col("text")).alias("q"))
    return (scored.groupBy("fp")
            .agg(F.max_by("doc_id",
                          F.struct(F.col("q"), -F.col("doc_id")))
                 .alias("kept_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("kept_id", "n_copies"))


def _dq_report(spark, sf_dir):
    """Declarative data-quality constraints (operators/quality.py):
    six rules over lineitem/orders — row-level rules share ONE scan
    (a single conditional-count agg), unique is one keyed agg,
    referential integrity one anti join.  The range rule is
    deliberately violated by real rows (quantity capped at 30) so the
    report carries non-zero counts the oracle must reproduce."""
    from apache_beam_spark.operators import quality as Q

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    rules = [
        Q.not_null("orderkey_not_null", "l_orderkey"),
        Q.in_range("quantity_1_30", "l_quantity", 1, 30),
        Q.isin("returnflag_domain", "l_returnflag", ["A", "N", "R"]),
        Q.custom("discount_le_tax_plus_half",
                 F.col("l_discount") <= F.col("l_tax") + F.lit(0.5)),
        Q.unique("linenumber_unique_per_order_NOT",
                 "l_orderkey"),  # intentionally violated: multi-line orders
        Q.foreign_key("orderkey_in_orders", "l_orderkey",
                      orders, "o_orderkey"),
    ]
    return Q.check_constraints(li, rules)


def _wav_roundtrip(spark, sf_dir):
    """REAL audio codec round trip (multimodal/codecs.py): per doc, a
    PCM WAV payload is synthesized from an integer sample formula,
    encoded with encode_wav, decoded back by the decode_audio stage
    (RIFF chunk walk, struct/numpy — no media libs), and the decoded
    (rate, count, peak) are value-checked against the oracle computing
    the same formula in SQL — the codec is verified end-to-end through
    the distributed mapInPandas plumbing."""
    from apache_beam_spark.multimodal.columns import decode_audio

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_wav

        for pdf in batches:
            rows = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i = np.arange(int(n), dtype=np.int64)
                x = ((int(d) * 31 + i) * 2654435761) % 65536 - 32768
                rows.append({"doc_id": int(d),
                             "payload": encode_wav(x.astype(np.int16), 8000)})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return decode_audio(enc).select(
        "doc_id", "sample_rate", "num_samples", "peak_abs")


def _video_mjpeg_roundtrip(spark, sf_dir):
    """REAL video codec round trip (codecs.py AVI/MJPEG — RIFF
    container walk + the real baseline JPEG decoder per frame): per
    doc on the ``doc_id % 17 == 5`` fixture subset, ``2 + doc % 3``
    constant-gray frames (frame f's value ``(doc*7 + f*37) % 256``,
    the jpeg_roundtrip closed-form family) are MJPEG-AVI-encoded and
    decoded back by the distributed decode_video_frames stage sampling
    every 2nd frame; (frame_idx, dims, fps, pixel_sum) value-check
    against the quantization closed form in SQL.  This makes the VIDEO
    modality real end-to-end — container + frames — with inter-frame
    codecs (H.264) staying DESCOPED per SURVEY §8."""
    from apache_beam_spark.multimodal.columns import decode_video_frames

    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id").where(F.col("doc_id") % 17 == 5)
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_avi_mjpeg

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h, nf = 4 + d % 5, 3 + d % 4, 2 + d % 3
                frames = [np.full((h, w), (d * 7 + f * 37) % 256,
                                  dtype=np.uint8) for f in range(nf)]
                rows.append({"doc_id": d,
                             "payload": encode_avi_mjpeg(frames, fps=10)})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return (decode_video_frames(enc, every_n=2)
            .select("doc_id", "frame_idx", "width", "height",
                    "channels", "fps", "pixel_sum"))


def _audio_resample(spark, sf_dir):
    """Audio decimation through the FULL distributed chain
    (multimodal/columns.py::resample_audio): synthesize WAV from the
    integer sample formula, decode -> keep every 4th sample ->
    re-encode at 2 kHz -> decode again; (rate, count, peak) value-
    check against the strided formula in SQL.  Two real codec passes
    plus the decimation — the downsampling step an audio training
    pipeline runs before feature extraction."""
    from apache_beam_spark.multimodal.columns import (decode_audio,
                                                      resample_audio)

    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", "n_chars")
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_wav

        for pdf in batches:
            rows = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i = np.arange(int(n), dtype=np.int64)
                x = ((int(d) * 31 + i) * 2654435761) % 65536 - 32768
                rows.append({"doc_id": int(d),
                             "payload": encode_wav(x.astype(np.int16), 8000)})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return decode_audio(resample_audio(enc, factor=4)).select(
        "doc_id", "sample_rate", "num_samples", "peak_abs")


def _image_dhash_dedup(spark, sf_dir):
    """Perceptual image dedup over the REAL decode path
    (multimodal/columns.py::image_dhash): per doc, the png_roundtrip
    pixel-formula image is PPM-encoded, decoded back inside the
    distributed stage, dHashed (integer grayscale -> nearest-neighbor
    9x8 grid -> 64 adjacency bits), and exact-hash clusters take the
    min doc_id as representative — the image analogue of SimHash text
    dedup, value-oracled bit-for-bit because every step (NN sampling
    ``(dst*size)//grid``, gray ``(r+g+b)//3``, strict-> bits) is
    integer arithmetic the oracle recomputes in SQL.  Hamming-distance
    near-dup pairing (pigeonhole-banded `dhash_near_dup`) is pinned
    against brute force in tests/test_multimodal.py.

    Scale shape: the doc frame repartitions BEFORE the decode stage
    (a single parquet split would serialize the Python codec loop —
    the 10x gate caught exactly that), and cluster reps come from a
    groupBy + equi-join on the hash instead of a sort-window."""
    from apache_beam_spark.multimodal.columns import image_dhash

    docs = (load_table(spark, "documents", sf_dir).select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_ppm

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 4
                k = np.arange(w * h * 3, dtype=np.int64)
                px = ((d * 7 + k * 13) % 256).astype(np.uint8)
                rows.append({"doc_id": d,
                             "payload": encode_ppm(px.reshape(h, w, 3))})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    from apache_beam_spark.plans.caching import cache_scoped

    # (doc_id, dhash) feeds BOTH the rep aggregate and the join-back;
    # uncached, each branch re-ran the PPM encode+decode+dHash Python
    # pass (optimization r13, guide §1.2 — hash rows are tiny vs the
    # decoded images, the dhash_near_dup cache discipline)
    hashed = cache_scoped(image_dhash(enc, grid_w=9, grid_h=8))
    reps = hashed.groupBy("dhash").agg(F.min("doc_id").alias("cluster_id"))
    return hashed.join(reps, "dhash").select("doc_id", "dhash",
                                             "cluster_id")


def _image_near_dup(spark, sf_dir):
    """Perceptual image NEAR-dup pairs (hamming <= 4 over dHash bits)
    through the full banded path: real decode -> image_dhash ->
    dhash_near_dup (pigeonhole chunks, per-chunk equality joins, exact
    hamming verify — never all-pairs).  The oracle brute-forces every
    pair's hamming in DuckDB from the same integer pixel formula,
    proving the banding loses no pair — the image analogue of
    fuzzy_join_customers' completeness gate."""
    from apache_beam_spark.multimodal.columns import (dhash_near_dup,
                                                      image_dhash)

    docs = (load_table(spark, "documents", sf_dir).select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_ppm

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 4
                k = np.arange(w * h * 3, dtype=np.int64)
                px = ((d * 7 + k * 13) % 256).astype(np.uint8)
                rows.append({"doc_id": d,
                             "payload": encode_ppm(px.reshape(h, w, 3))})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return dhash_near_dup(image_dhash(enc), max_hamming=4)


def _audio_features(spark, sf_dir):
    """Audio quality features over the REAL decoded-sample path
    (multimodal/columns.py::audio_frame_features): per doc, the
    wav_roundtrip integer-formula signal is WAV-encoded, decoded back
    inside the distributed stage, and reduced to integer per-frame
    features (64-sample frames, whole-signal zero crossings, silence
    frames under peak 512).  Every feature is an integer function of
    the decoded samples, so the oracle recomputes all of them from the
    same closed-form formula in SQL — the audio analogue of the text
    quality scores, verified end-to-end through the mapInPandas
    plumbing (training-data pipelines gate audio on exactly these:
    energy, ZCR, silence ratio)."""
    from apache_beam_spark.multimodal.columns import audio_frame_features

    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", "n_chars")
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_wav

        for pdf in batches:
            rows = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i = np.arange(int(n), dtype=np.int64)
                x = ((int(d) * 31 + i) * 2654435761) % 65536 - 32768
                rows.append({"doc_id": int(d),
                             "payload": encode_wav(x.astype(np.int16), 8000)})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return audio_frame_features(enc, frame=64, silence_peak=512)


def _flac_roundtrip(spark, sf_dir):
    """REAL FLAC codec round trip (multimodal/codecs.py, r9 — the
    lossless fixed-predictor subset: constant/fixed/verbatim
    subframes, rice residual coding, UTF-8 frame numbers, CRC-8/16 +
    raw-audio MD5): per doc on the ``doc_id % 11 == 3`` subset (the
    codec fixture discipline), int16 samples from the wav_roundtrip
    integer formula are FLAC-encoded and decoded back by the
    distributed decode_audio stage; (rate, count, peak) value-checked
    against the same formula in SQL — LOSSLESSNESS makes the oracle
    exact, the wav_roundtrip standard.  Stereo decorrelation and depth
    variants are pinned bit-exactly in tests/test_codecs.py."""
    from apache_beam_spark.multimodal.columns import decode_audio

    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", "n_chars")
            .where(F.col("doc_id") % 11 == 3)
            # same CPU-bound-codec fanout as the other roundtrip
            # fixtures: the filtered id list scans as 1-2 splits and
            # the Python encode+decode loop would serialize on them
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_flac

        for pdf in batches:
            rows = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i = np.arange(int(n), dtype=np.int64)
                x = ((int(d) * 31 + i) * 2654435761) % 65536 - 32768
                rows.append({"doc_id": int(d),
                             "payload": encode_flac(x, 8000)})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return decode_audio(enc).select(
        "doc_id", "sample_rate", "num_samples", "peak_abs")


def _flac_lpc_roundtrip(spark, sf_dir):
    """FLAC round trip through the LPC coding path (r10:
    multimodal/codecs.py gains general LPC subframes — order 1-32
    quantized-coefficient decode, the coding real libFLAC/ffmpeg files
    use, plus an opt-in Levinson-Durbin encoder).  The fixed twin's
    hash-noise formula would never trigger LPC (it only wins on
    correlated content), so this fixture is TONAL — two sines with a
    per-doc phase — where the Levinson-Durbin candidates genuinely
    beat the fixed predictors and the streams carry real LPC subframes
    (asserted in tests/test_codecs.py::
    test_flac_lpc_bench_fixture_actually_uses_lpc).  Sine samples are
    float-library-dependent, so the oracle pins the SQL-exact outputs
    only: sample count, rate, and a planted x[0]=32000 spike above the
    13,000 sine amplitude that makes peak_abs closed-form.  Sample
    EXACTNESS is still fully enforced — decode_flac verifies the
    STREAMINFO MD5 over all decoded samples (plus per-frame CRCs), so
    any LPC mis-decode fails the query rather than drifting values."""
    from apache_beam_spark.multimodal.columns import decode_audio

    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", "n_chars")
            .where(F.col("doc_id") % 11 == 3)
            # same CPU-bound-codec fanout as the other roundtrip
            # fixtures: the filtered id list scans as 1-2 splits and
            # the Python encode+decode loop would serialize on them
            .repartition(spark.sparkContext.defaultParallelism))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from apache_beam_spark.multimodal.codecs import encode_flac

        for pdf in batches:
            rows = []
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i = np.arange(int(n), dtype=np.int64)
                x = np.round(
                    9000 * np.sin(2 * np.pi * i / 97 + int(d) % 7)
                    + 4000 * np.sin(2 * np.pi * i / 31)).astype(np.int64)
                if len(x):
                    x[0] = 32000          # closed-form peak witness
                rows.append({"doc_id": int(d),
                             "payload": encode_flac(x, 8000,
                                                    use_lpc=True)})
            yield pd.DataFrame(rows)

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    return decode_audio(enc).select(
        "doc_id", "sample_rate", "num_samples", "peak_abs")


def _rt_rgb_image(d: int):
    """The shared roundtrip pixel formula: a (3-6) x (4-8) RGB image
    whose bytes are ((d*7 + k*13) % 256) — at most 48 distinct colors
    (inside GIF's palette limit), SQL-expressible for the oracle."""
    import numpy as np

    w, h = 4 + d % 5, 3 + d % 4
    k = np.arange(w * h * 3, dtype=np.int64)
    return ((d * 7 + k * 13) % 256).astype(np.uint8).reshape(h, w, 3)


def _image_roundtrip(spark, sf_dir, payload_fn, every: int | None = None):
    """Shared scaffold of every codec roundtrip query: per doc,
    ``payload_fn(doc_id) -> encoded bytes`` (runs inside the
    distributed mapInPandas stage), decoded back by decode_image, and
    (width, height, channels, pixel byte sum) returned for the
    value-oracle.

    ``every``: run on the ``doc_id % every == 3`` subset only — the
    HEADLINE codec entries use every=11 (VERDICT r8 item 5: the
    fixture work is per-doc Python codec invocations that don't scale
    with sf, so full-corpus depth belongs in tests/test_codecs.py, not
    the bench wall).  11 is coprime to every dims/branch residue the
    pixel formula uses (w: %5, h: %4, restart/endian: %3, interlace/
    packbits: %2), so the subset still exercises all 60 residue
    combinations; the oracle SQL applies the same filter."""
    from apache_beam_spark.multimodal.columns import decode_image

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    if every is not None:
        docs = docs.where(F.col("doc_id") % every == 3)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": ids,
                                "payload": [payload_fn(d) for d in ids]})

    enc = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    dec = decode_image(enc).withColumn("hx", F.hex("pixels"))
    pixel_sum = F.expr(
        "aggregate(sequence(0, length(hx) div 2 - 1), 0L,"
        " (acc, i) -> acc + CAST(conv(substring(hx, 2*i + 1, 2), 16, 10)"
        " AS BIGINT))")
    return dec.select("doc_id", "width", "height", "channels",
                      pixel_sum.alias("pixel_sum"))


def _png_roundtrip(spark, sf_dir):
    """REAL image codec round trip (multimodal/codecs.py decode_png —
    stdlib zlib inflate + numpy unfiltering, no media libs): the
    shared RGB pixel formula compressed with encode_png, decoded back
    by the decode_image stage (chunk walk, CRC verify, unfilter), dims
    + pixel byte sum value-checked against the oracle computing the
    same formula in SQL — end-to-end through the distributed
    mapInPandas plumbing, same standard as wav_roundtrip."""
    def payload(d):
        from apache_beam_spark.multimodal.codecs import encode_png

        return encode_png(_rt_rgb_image(d))

    return _image_roundtrip(spark, sf_dir, payload)


def _tiff_roundtrip(spark, sf_dir):
    """REAL TIFF codec round trip (multimodal/codecs.py decode_tiff —
    r8: IFD walk, strip assembly, PackBits): the shared RGB formula,
    PackBits on even doc ids / uncompressed on odd, big-endian (MM) on
    ids % 3 == 0 — lossless, so the png_roundtrip oracle value-checks
    dims + pixel sum."""
    def payload(d):
        from apache_beam_spark.multimodal.codecs import encode_tiff

        return encode_tiff(_rt_rgb_image(d), packbits=(d % 2 == 0),
                           big_endian=(d % 3 == 0))

    return _image_roundtrip(spark, sf_dir, payload, every=11)


def _gif_roundtrip(spark, sf_dir):
    """REAL GIF codec round trip (multimodal/codecs.py decode_gif —
    r8: variable-code-width LZW, global color table, first frame,
    4-pass interlace on odd doc ids): the shared RGB formula carries
    at most 48 distinct colors, inside GIF's 256-entry palette;
    lossless, so the png_roundtrip oracle value-checks dims + pixel
    sum byte-for-byte."""
    def payload(d):
        from apache_beam_spark.multimodal.codecs import encode_gif

        return encode_gif(_rt_rgb_image(d), interlace=bool(d % 2))

    return _image_roundtrip(spark, sf_dir, payload, every=11)


def _png_adam7_roundtrip(spark, sf_dir):
    """Adam7-INTERLACED PNG round trip (r8: the decoder's seven-pass
    scatter path — each pass independently filtered, empty passes for
    sub-tile dims): the shared RGB formula encoded with
    encode_png(interlace=True).  PNG is lossless either way, so the
    SAME oracle value-checks dims + pixel sum; doc-dependent dims
    below 8x8 exercise the empty-pass branches."""
    def payload(d):
        from apache_beam_spark.multimodal.codecs import encode_png

        return encode_png(_rt_rgb_image(d), interlace=True)

    return _image_roundtrip(spark, sf_dir, payload, every=11)


def _jpeg_roundtrip(spark, sf_dir):
    """REAL baseline-JPEG codec round trip (multimodal/codecs.py
    encode_jpeg/decode_jpeg — Annex K huffman, batched numpy DCT/IDCT,
    no media libs): per doc, a constant-gray tile of doc-dependent
    odd dimensions (exercising edge-replication padding) is encoded,
    decoded back by the distributed decode_image stage, and checked
    end-to-end.  JPEG is LOSSY, but a constant tile's decode has the
    exact closed form ``clip(2*floor((v-128)/2 + .5) + 128)`` (only
    the DC coefficient survives; the encoder quantizes with
    deterministic round-half-up), so width/height/channels AND the
    pixel sum are value-oracled — the richer AC/chroma paths are
    covered by tests/test_codecs.py round trips, which a SQL oracle
    cannot express for lossy content."""
    def payload(d):
        import numpy as np

        from apache_beam_spark.multimodal.codecs import encode_jpeg

        w, h, v = 4 + d % 5, 3 + d % 4, (d * 7) % 256
        return encode_jpeg(np.full((h, w), v, np.uint8))

    return _image_roundtrip(spark, sf_dir, payload)


def _jpeg_progressive_roundtrip(spark, sf_dir):
    """REAL progressive-JPEG (T.81 SOF2, Annex G) codec round trip:
    same contract as jpeg_roundtrip, but the payload is written by
    encode_jpeg_progressive — a multi-scan stream (DC first +
    per-band AC first + DC/AC refinement, successive approximation)
    with doc-dependent restart intervals — and decoded by
    decode_jpeg's Annex G.2 accumulate-across-scans path.  The
    progressive encoder shares the baseline encoder's quantized
    coefficients, so the constant-tile closed form holds
    bit-identically (pinned in tests/test_codecs.py
    progressive-vs-baseline tests); dims AND pixel sum value-oracled."""
    def payload(d):
        import numpy as np

        from apache_beam_spark.multimodal.codecs import (
            encode_jpeg_progressive)

        w, h, v = 4 + d % 5, 3 + d % 4, (d * 7) % 256
        return encode_jpeg_progressive(np.full((h, w), v, np.uint8),
                                       restart_interval=d % 3)

    return _image_roundtrip(spark, sf_dir, payload, every=11)


def _jpeg_lossless_roundtrip(spark, sf_dir):
    """REAL lossless JPEG (T.81 SOF3, Annex H, r9) round trip:
    per-sample DPCM with the Table H.1 predictors (rotating by doc) +
    huffman difference coding — NO DCT, NO quantization, components
    coded directly, so decode returns the EXACT input pixels and the
    oracle is the raw pixel-formula sum (the png_roundtrip standard,
    not the baseline JPEG closed form).  doc_id % 11 == 3 codec
    subset; all seven predictors + point-transform closed form pinned
    in tests/test_codecs.py."""
    def payload(d):
        from apache_beam_spark.multimodal.codecs import (
            encode_jpeg_lossless)

        return encode_jpeg_lossless(_rt_rgb_image(d),
                                    predictor=1 + d % 7)

    return _image_roundtrip(spark, sf_dir, payload, every=11)


def _jpeg_arith_roundtrip(spark, sf_dir):
    """REAL arithmetic-coded JPEG (T.81 SOF9, Annex D QM-coder +
    F.1.4 model, r9 — the entropy layer libjpeg gates behind
    D_ARITH_CODING_SUPPORTED) round trip: same contract as
    jpeg_roundtrip — the QM-coder rides over the SAME quantized
    coefficients, so the constant-tile closed form holds bit-
    identically (pinned pixel-equal to baseline across a 40-trial
    fuzz in tests/test_codecs.py); dims AND pixel sum value-oracled.
    Doc-dependent restart intervals exercise the per-segment
    coder/statistics reset path."""
    def payload(d):
        import numpy as np

        from apache_beam_spark.multimodal.codecs import encode_jpeg_arith

        w, h, v = 4 + d % 5, 3 + d % 4, (d * 7) % 256
        return encode_jpeg_arith(np.full((h, w), v, np.uint8),
                                 restart_interval=d % 3)

    return _image_roundtrip(spark, sf_dir, payload, every=11)


def _rag_chunks(spark, sf_dir):
    """Overlapping retrieval chunks (dedup/chunks.py sliding_chunks):
    30-word windows advancing by 20 (10 words shared context) — the
    RAG-ingest splitter as pure Column HOFs fused into the scan."""
    from apache_beam_spark.dedup.chunks import sliding_chunks

    return sliding_chunks(load_table(spark, "documents", sf_dir),
                          chunk_words=30, overlap_words=10)


def _dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per day.  The scalable shape: distinct
    (user, day) first (one shuffle), then each active day contributes
    to the 30 trailing target days via a BOUNDED 30x explode (the
    sliding-window expansion trick — no day-by-day self-join over raw
    events, no 30-day range join), distinct again, divide."""
    ev = load_table(spark, "events", sf_dir)
    ud = ev.select(F.col("user_id"),
                   F.to_date("ts").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"), F.date_add(F.col("day"), 29))).alias("day"))
    mau = (contrib.distinct()
           .groupBy("day").agg(F.count(F.lit(1)).alias("mau")))
    return (dau.join(mau, on="day")
            .select(F.col("day").cast("timestamp").alias("day"),
                    "dau", "mau",
                    F.round(F.col("dau") / F.col("mau"), 6)
                    .alias("stickiness")))


def _zorder_curve(spark, sf_dir):
    """Z-order layout key (plans/layout.py): events bucketed to 10-bit
    (user, day) coordinates, bit-interleaved into the Morton value the
    clustered write sorts by.  Pure integer Column arithmetic; the
    oracle reproduces the identical unrolled shift/mask expression, so
    the curve is value-checked bit-for-bit."""
    from apache_beam_spark.plans.layout import zvalue

    ev = load_table(spark, "events", sf_dir)
    d = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(1024)).alias("ub"),
        F.datediff(F.to_date("ts"),
                   F.lit("2024-01-01").cast("date")).alias("db"))
    return d.select("event_id", zvalue(["ub", "db"], bits=10).alias("zval"))


def _proto_roundtrip(spark, sf_dir):
    """ProtoCoder parity (reference sdks/java/extensions/protobuf/.../
    ProtoCoder.java:93): events rows encoded through the pure-Python
    protobuf wire format (functions/proto.py) and decoded back; the
    oracle selects the source columns directly, so the hash match
    verifies the codec end-to-end on ~10k messages including IEEE
    doubles and UTF-8 strings."""
    from apache_beam_spark.functions.proto import (
        ProtoField, ProtoSchema, proto_decode, proto_encode)

    schema = ProtoSchema([
        ProtoField(1, "event_id", "int64"),
        ProtoField(2, "user_id", "int64"),
        ProtoField(3, "event_type", "string"),
        ProtoField(4, "value", "double"),
    ])
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value")
    enc = proto_encode(ev, schema, keep=[])
    return proto_decode(enc, schema).select(
        "event_id", "user_id", "event_type", "value")


def _hadoop_sequence_file(spark, sf_dir):
    """HadoopInputFormatIO parity (reference sdks/java/io/hadoop/
    input-format/.../HadoopInputFormatIO.java:180): events spooled as a
    Text SequenceFile, read back through newAPIHadoopRDD with
    SequenceFileInputFormat + the same three-class Configuration the
    reference requires, then aggregated — the oracle aggregates the
    parquet directly, proving the Writable round trip lossless."""
    import tempfile

    from apache_beam_spark.sources.hadoop import (
        INPUTFORMAT_CLASS_ATTR, KEY_CLASS, VALUE_CLASS,
        read_hadoop_input_format, write_sequence_file)

    ev = load_table(spark, "events", sf_dir).select(
        F.col("event_id").cast("string").alias("key"),
        F.col("event_type").alias("value"))
    path = tempfile.mkdtemp(prefix="hif_query_") + "/seq"
    write_sequence_file(ev, path)
    conf = {
        INPUTFORMAT_CLASS_ATTR:
            "org.apache.hadoop.mapreduce.lib.input.SequenceFileInputFormat",
        KEY_CLASS: "org.apache.hadoop.io.Text",
        VALUE_CLASS: "org.apache.hadoop.io.Text",
        "mapreduce.input.fileinputformat.inputdir": path,
    }
    back = read_hadoop_input_format(spark, conf)
    return (back.groupBy(F.col("value").alias("event_type"))
            .agg(F.count(F.lit(1)).alias("n")))


def _pubsub_timestamps(spark, sf_dir):
    """PubsubIO timestampAttribute parity (reference .../pubsub/
    PubsubClient.java:96 extractTimestamp): events wrapped as Pub/Sub
    messages whose 'ets' attribute carries ms-since-epoch as a string;
    extract_timestamp_col parses it back and the query returns the
    per-event epoch millis — the oracle computes epoch_ms(ts) directly,
    so the hash match pins the attribute-string round trip to the
    millisecond."""
    from apache_beam_spark.streaming.pubsub import with_event_timestamps

    ev = load_table(spark, "events", sf_dir)
    msgs = ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.encode("event_type", "utf-8").alias("payload"),
        F.create_map(
            F.lit("ets"),
            (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000))
            .cast("long").cast("string"),
        ).alias("attributes"),
        F.lit(None).cast("timestamp").alias("publish_ts"),
    )
    out = with_event_timestamps(msgs, "ets")
    return out.select(
        F.col("message_id").cast("long").alias("event_id"),
        F.unix_millis("event_ts").alias("ets_ms"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001; driver checks rows>0.

    The end-to-end corpus-prep pipeline (quality gate -> lang filter ->
    exact dedup -> near-dup cluster representatives -> sequence
    packing) — one declarative composition exercising filters,
    aggregation, joins, iterative connected components, and
    applyInPandas.  TPC-H Q1 (`q1_pricing_summary`) remains in
    queries() as the classic scan-agg flagship."""
    return _llm_corpus_prep(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "elementwise_project": _elementwise_project,
        "filter_orders": _filter_orders,
        "wordcount": _wordcount,
        "bpe_pair_counts": _bpe_pair_counts,
        "cms_word_counts": _cms_word_counts,
        "hll_distinct_users": _hll_distinct_users,
        "kmv_user_overlap": _kmv_user_overlap,
        "hist_quantiles_prices": _hist_quantiles_prices,
        "quality_lr_fixed": _quality_lr_fixed,
        "quality_lr_train": _quality_lr_train,
        "dup_span_scrub": _dup_span_scrub,
        "bpe_token_counts": _bpe_token_counts,
        "bpe_rank_token_counts": _bpe_rank_token_counts,
        "unigram_token_counts": _unigram_token_counts,
        "unigram_token_counts_bc": _unigram_token_counts_bc,
        "wordpiece_token_counts": _wordpiece_token_counts,
        "wordpiece_token_counts_bc": _wordpiece_token_counts_bc,
        "wordpiece_piece_counts": _wordpiece_piece_counts,
        "dsir_scores": _dsir_scores,
        "dsir_select_top": _dsir_select_top,
        "unigram_piece_counts": _unigram_piece_counts,
        "group_by_key": _group_by_key,
        "combine_grouped_values": _combine_grouped_values,
        "combine_per_key_multi": _combine_per_key_multi,
        "count_global": _count_global,
        "count_per_element": _count_per_element,
        "stats_per_key": _stats_per_key,
        "top_global": _top_global,
        "top_per_key": _top_per_key,
        "distinct_segments": _distinct_segments,
        "distinct_representative": _distinct_representative,
        "latest_per_user": _latest_per_user,
        "distinct_count_exact": _distinct_count_exact,
        "approx_distinct_users": _approx_distinct_users,
        "quantiles_exact": _quantiles_exact,
        "approx_quantiles": _approx_quantiles,
        "sample_any": _sample_any,
        "sample_deterministic": _sample_deterministic,
        "join_inner": _join_inner,
        "join_left_agg": _join_left_agg,
        "join_right": _join_right,
        "join_full": _join_full,
        "join_semi": _join_semi,
        "join_anti": _join_anti,
        "star_join_revenue": _star_join_revenue,
        "cogroup_by_key": _cogroup_by_key,
        "flatten_union": _flatten_union,
        "partition_branch": _partition_branch,
        "kv_swap": _kv_swap,
        "tostring_kvs": _tostring_kvs,
        "regex_matches": _regex_matches,
        "regex_replace": _regex_replace,
        "json_extract": _json_extract,
        "window_fixed": _window_fixed,
        "window_sliding": _window_sliding,
        "window_session": _window_session,
        "window_session_strict": _window_session_strict,
        "window_session_dynamic": _window_session_dynamic,
        "window_calendar_month": _window_calendar_month,
        "group_into_batches": _group_into_batches,
        "text_stats": _text_stats,
        "quality_score": _quality_score,
        "lang_id": _lang_id,
        "fingerprint_docs": _fingerprint_docs,
        "pii_scrub": _pii_scrub,
        "dedup_exact": _dedup_exact,
        "dedup_minhash": _dedup_minhash,
        "dedup_minhash_md5": _dedup_minhash_md5,
        "stream_minhash_dedup": _stream_minhash_dedup,
        "stream_heavy_hitters_exact": _stream_heavy_hitters_exact,
        "stream_funnel_exact": _stream_funnel_exact,
        "stream_session_exact": _stream_session_exact,
        "stream_session_dynamic_exact": _stream_session_dynamic_exact,
        "stream_session_strict_exact": _stream_session_strict_exact,
        "stream_session_late_exact": _stream_session_late_exact,
        "stream_join_exact": _stream_join_exact,
        "stream_join_late_exact": _stream_join_late_exact,
        "stream_dedup_exact": _stream_dedup_exact,
        "stream_rate_limit_exact": _stream_rate_limit_exact,
        "stream_dedup_late_exact": _stream_dedup_late_exact,
        "stream_window_count_exact": _stream_window_count_exact,
        "stream_window_late_exact": _stream_window_late_exact,
        "stream_trigger_exact": _stream_trigger_exact,
        "stream_trigger_discarding_exact": _stream_trigger_discarding_exact,
        "stream_trigger_orfinally_exact": _stream_trigger_orfinally_exact,
        "stream_trigger_aftereach_exact": _stream_trigger_aftereach_exact,
        "stream_trigger_late_exact": _stream_trigger_late_exact,
        "stream_trigger_afterfirst_exact": _stream_trigger_afterfirst_exact,
        "stream_trigger_never_exact": _stream_trigger_never_exact,
        "stream_trigger_earliest_ts_exact": _stream_trigger_earliest_ts_exact,
        "stream_trigger_closing_always_exact":
            _stream_trigger_closing_always_exact,
        "stream_trigger_ontime_if_nonempty_exact":
            _stream_trigger_ontime_if_nonempty_exact,
        "windowed_file_write": _windowed_file_write,
        "windowed_file_write_dynamic": _windowed_file_write_dynamic,
        "windowed_file_write_stream": _windowed_file_write_stream,
        "dedup_simhash": _dedup_simhash,
        "dedup_simhash_md5": _dedup_simhash_md5,
        "ngram_jaccard": _ngram_jaccard,
        "ngram_containment": _ngram_containment,
        "dup_clusters": _dup_clusters,
        "decontaminate_benchmark": _decontaminate_benchmark,
        "chunk_dedup": _chunk_dedup,
        "embed_knn": _embed_knn,
        "embed_lsh_knn": _embed_lsh_knn,
        "embed_ivf_fixed": _embed_ivf_fixed,
        "embed_near_dup": _embed_near_dup,
        "semantic_dedup": _semantic_dedup,
        "embed_kmeans_fixed": _embed_kmeans_fixed,
        "embed_pca_gram": _embed_pca_gram,
        "embed_pca_project": _embed_pca_project,
        "embed_pq_fixed": _embed_pq_fixed,
        "embed_ivfpq_fixed": _embed_ivfpq_fixed,
        "pack_sequences": _pack_sequences,
        "llm_corpus_prep": _llm_corpus_prep,
        "corpus_prep_stats": _corpus_prep_stats,
        "secondary_sort": _secondary_sort,
        "sample_fixed_per_key": _sample_fixed_per_key,
        "regex_find_all": _regex_find_all,
        "combine_fanout_count": _combine_fanout_count,
        "media_metadata": _media_metadata,
        "media_frame_sample": _media_frame_sample,
        "autocomplete": _autocomplete,
        "tfidf": _tfidf,
        "collocations_pmi": _collocations_pmi,
        "sample_stratified": _sample_stratified,
        "mixture_cap_tokens": _mixture_cap_tokens,
        "epoch_shuffle": _epoch_shuffle,
        "funnel_instances": _funnel_instances,
        "game_stats_spam": _game_stats_spam,
        "trending_topk": _trending_topk,
        "value_histogram": _value_histogram,
        "dedup_incremental": _dedup_incremental,
        "dedup_incremental_bloom": _dedup_incremental_bloom,
        "dedup_incremental_minhash": _dedup_incremental_minhash,
        "dedup_incremental_minhash_md5": _dedup_incremental_minhash_md5,
        "quantiles_per_key": _quantiles_per_key,
        "rolling_features": _rolling_features,
        "timeseries_gapfill": _timeseries_gapfill,
        "fuzzy_join_customers": _fuzzy_join_customers,
        "rollup_ohlc": _rollup_ohlc,
        "inverted_index": _inverted_index,
        "props_flatten": _props_flatten,
        "table_profile": _table_profile,
        "feature_store_events": _feature_store_events,
        "quality_percentile": _quality_percentile,
        "value_zscore_outliers": _value_zscore_outliers,
        "rfm_segments": _rfm_segments,
        "train_val_test_split": _train_val_test_split,
        "trigram_logprob": _trigram_logprob,
        "heavy_hitter_words": _heavy_hitter_words,
        "top_words": _top_words,
        "repetition_stats": _repetition_stats,
        "source_quality_report": _source_quality_report,
        "funnel_view_purchase": _funnel_view_purchase,
        "weekly_retention": _weekly_retention,
        "event_type_pivot": _event_type_pivot,
        "user_sessions": _user_sessions,
        "asof_last_purchase": _asof_last_purchase,
        "rollup_daily": _rollup_daily,
        "range_join_followups": _range_join_followups,
        "sum_mean_global": _sum_mean_global,
        "latest_global": _latest_global,
        "q3_shipping_priority": _q3_shipping_priority,
        "q5_local_supplier": _q5_local_supplier,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q7_volume_shipping": _q7_volume_shipping,
        "q8_market_share": _q8_market_share,
        "q10_returned_items": _q10_returned_items,
        "q14_promo_effect": _q14_promo_effect,
        "q17_small_qty": _q17_small_qty,
        "q18_large_volume": _q18_large_volume,
        "q19_discounted": _q19_discounted,
        "q13_customer_distribution": _q13_customer_distribution,
        "q15_top_supplier": _q15_top_supplier,
        "q22_global_sales": _q22_global_sales,
        "q4_order_priority": _q4_order_priority,
        "q12_shipmode_priority": _q12_shipmode_priority,
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q9_product_profit": _q9_product_profit,
        "q11_important_stock": _q11_important_stock,
        "q16_parts_suppliers": _q16_parts_suppliers,
        "q20_potential_promotion": _q20_potential_promotion,
        "q21_waiting_suppliers": _q21_waiting_suppliers,
        "source_drift_chisq": _source_drift_chisq,
        "event_paths_top": _event_paths_top,
        "embed_knn_int8": _embed_knn_int8,
        "sales_cube": _sales_cube,
        "event_type_unpivot": _event_type_unpivot,
        "delta_encode_series": _delta_encode_series,
        "regex_kv_pairs": _regex_kv_pairs,
        "media_dedup": _media_dedup,
        "snapshot_diff": _snapshot_diff,
        "embed_quantize_int8": _embed_quantize_int8,
        "hybrid_search_rrf": _hybrid_search_rrf,
        "weighted_sample_docs": _weighted_sample_docs,
        "url_domain_stats": _url_domain_stats,
        "unicode_nfc_stats": _unicode_nfc_stats,
        "mad_outliers": _mad_outliers,
        "rollup_incremental": _rollup_incremental,
        "textrank_words": _textrank_words,
        "char_entropy_quality": _char_entropy_quality,
        "attribution_last_touch": _attribution_last_touch,
        "ab_test_report": _ab_test_report,
        "readability_scores": _readability_scores,
        "rate_limit_events": _rate_limit_events,
        "dedup_keep_best": _dedup_keep_best,
        "dq_report": _dq_report,
        "wav_roundtrip": _wav_roundtrip,
        "audio_features": _audio_features,
        "audio_resample": _audio_resample,
        "image_dhash_dedup": _image_dhash_dedup,
        "video_mjpeg_roundtrip": _video_mjpeg_roundtrip,
        "image_near_dup": _image_near_dup,
        "flac_roundtrip": _flac_roundtrip,
        "flac_lpc_roundtrip": _flac_lpc_roundtrip,
        "png_roundtrip": _png_roundtrip,
        "png_adam7_roundtrip": _png_adam7_roundtrip,
        "gif_roundtrip": _gif_roundtrip,
        "tiff_roundtrip": _tiff_roundtrip,
        "jpeg_roundtrip": _jpeg_roundtrip,
        "jpeg_progressive_roundtrip": _jpeg_progressive_roundtrip,
        "jpeg_arith_roundtrip": _jpeg_arith_roundtrip,
        "jpeg_lossless_roundtrip": _jpeg_lossless_roundtrip,
        "rag_chunks": _rag_chunks,
        "dau_mau_stickiness": _dau_mau_stickiness,
        "zorder_curve": _zorder_curve,
        "bm25_search": _bm25_search,
        "cdc_upsert_snapshot": _cdc_upsert_snapshot,
        "scd2_user_history": _scd2_user_history,
        "mixture_temperature": _mixture_temperature,
        "proto_roundtrip": _proto_roundtrip,
        "hadoop_sequence_file": _hadoop_sequence_file,
        "pubsub_timestamps": _pubsub_timestamps,
    }


# apostrophe doubled for embedding in SQL single-quoted literals
WORD_PAT = "[\\p{L}\\p{N}_'']+"
_MARKERS = {
    "en": "['the','and','of','to','is']",
    "de": "['der','und','die','das','ist']",
    "fr": "['le','la','et','les','est']",
    "es": "['el','de','que','los','es']",
}


def oracle_sql() -> dict[str, str]:
    toks = f"regexp_extract_all(lower(text), '{WORD_PAT}')"
    lang_scores = ", ".join(
        f"len(list_filter({m}, m -> list_contains({toks}, m))) AS s_{lang}"
        for lang, m in _MARKERS.items()
    )
    shingle_expr = (
        "CASE WHEN len(toks) >= 3 THEN "
        "list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    norm_text = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    out = {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   {_sql_dsum('l_quantity', 'sum_qty')},
                   {_sql_dsum('l_extendedprice', 'sum_base_price')},
                   CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
                   {_sql_davg('l_quantity', 'avg_qty')},
                   {_sql_davg('l_extendedprice', 'avg_price')},
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "elementwise_project": f"""
            SELECT l_orderkey, l_linenumber,
                   CAST({_SQL_DISC_PRICE} AS DOUBLE) AS net_price
            FROM lineitem WHERE l_quantity > 45""",
        "filter_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice > 400000 AND o_orderstatus = 'O'""",
        "wordcount": """
            SELECT word, COUNT(*) AS n FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
                FROM documents) t
            WHERE word <> '' GROUP BY word""",
        # pinned linear classifier: identical feature expressions
        # (regex char-class ratios, replace-count ' the ' rate, log
        # length), dot product with the literal weights, sigmoid
        "quality_lr_fixed": """
            WITH f AS (
                SELECT doc_id,
                       ln(length(text) + 1.0) AS log_len,
                       length(regexp_replace(lower(text), '[^aeiou]',
                              '', 'g'))
                           / greatest(length(text), 1) AS vowel_ratio,
                       length(regexp_replace(lower(text), '[^ ]',
                              '', 'g'))
                           / greatest(length(text), 1) AS space_ratio,
                       length(regexp_replace(lower(text), '[^0-9]',
                              '', 'g'))
                           / greatest(length(text), 1) AS digit_ratio,
                       ((length(text)
                         - length(replace(lower(text), ' the ', '')))
                        / 5 * 100.0)
                           / greatest(length(text), 1) AS the_rate
                FROM documents),
            z AS (
                SELECT doc_id,
                       -6.0 + 1.0 * log_len + 2.0 * vowel_ratio
                       + 1.5 * space_ratio - 4.0 * digit_ratio
                       + 0.2 * the_rate AS z
                FROM f)
            SELECT doc_id,
                   ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
                   CAST(1.0 / (1.0 + exp(-z)) >= 0.5 AS INT) AS pred
            FROM z""",
        # count-min sketch, collisions included: same md5-salted
        # bucket hash, same depth x width grid, min over rows
        "cms_word_counts": """
            WITH wf AS (
                SELECT word FROM (
                    SELECT unnest(string_split_regex(lower(text),
                                  '[^a-z0-9]+')) AS word
                    FROM documents) t
                WHERE word <> ''),
            rr AS (SELECT UNNEST(range(4)) AS r),
            probes AS (
                SELECT word, r,
                       CAST(('0x' || substring(md5(word || '|' ||
                            CAST(r AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 32 AS b
                FROM wf CROSS JOIN rr),
            sketch AS (
                SELECT r, b, COUNT(*) AS cnt FROM probes GROUP BY r, b),
            qp AS (
                SELECT word, r,
                       CAST(('0x' || substring(md5(word || '|' ||
                            CAST(r AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 32 AS b
                FROM (SELECT DISTINCT word FROM wf) q CROSS JOIN rr)
            SELECT qp.word AS word, MIN(COALESCE(sketch.cnt, 0)) AS est
            FROM qp LEFT JOIN sketch USING (r, b)
            GROUP BY qp.word""",
        # HyperLogLog, register collisions included: same md5-derived
        # 60-bit hash (top 4 hex digits -> bucket, low 13 -> rank
        # window), same bigint common-denominator harmonic sum, same
        # linear-counting correction — the float estimate is
        # bit-identical, not approximately equal.
        "hll_distinct_users": f"""
            WITH h AS (
                SELECT event_type,
                       CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                            1, 4)) AS BIGINT) % 256 AS bucket,
                       CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                            5, 13)) AS BIGINT) AS w
                FROM events),
            regs AS (
                SELECT event_type, bucket,
                       MAX(CASE WHEN w = 0 THEN 53
                                ELSE 53 - length(bin(w)) END) AS rho
                FROM h GROUP BY event_type, bucket),
            agg AS (
                SELECT event_type, COUNT(*) AS n_registers,
                       SUM(CAST(pow(2, greatest(52 - rho, 0)) AS BIGINT))
                         AS s
                FROM regs GROUP BY event_type),
            e AS (
                SELECT event_type, n_registers,
                       256 - n_registers AS zeros,
                       {0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                        * float(1 << 52)!r} /
                       CAST(s + (256 - n_registers) * {1 << 52}
                            AS DOUBLE) AS raw
                FROM agg)
            SELECT event_type, n_registers,
                   ROUND(CASE WHEN raw <= 640.0 AND zeros > 0
                              THEN 256.0 * ln(256.0 / zeros)
                              ELSE raw END, 4) AS est_distinct
            FROM e""",
        # KMV set-algebra sketch: same md5-derived 60-bit hash, same
        # bottom-k minima, same union-threshold Jaccard — estimates
        # are bit-identical, register-for-register.
        "kmv_user_overlap": f"""
            WITH hh AS (
                SELECT DISTINCT event_type AS g,
                       CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                            1, 15)) AS BIGINT) AS h
                FROM events),
            s AS (
                SELECT g, h FROM (
                    SELECT g, h, row_number() OVER
                           (PARTITION BY g ORDER BY h) AS rn
                    FROM hh) t
                WHERE rn <= 32),
            pairs AS (
                SELECT a.g AS set_a, b.g AS set_b
                FROM (SELECT DISTINCT g FROM s) a
                JOIN (SELECT DISTINCT g FROM s) b ON a.g < b.g),
            u AS (
                SELECT DISTINCT set_a, set_b, h
                FROM pairs JOIN s ON s.g = set_a OR s.g = set_b),
            uk AS (
                SELECT set_a, set_b, h FROM (
                    SELECT set_a, set_b, h, row_number() OVER
                           (PARTITION BY set_a, set_b ORDER BY h) AS rn
                    FROM u) t
                WHERE rn <= 32),
            ustat AS (
                SELECT set_a, set_b, COUNT(*) AS un, MAX(h) AS tau
                FROM uk GROUP BY set_a, set_b),
            bb AS (
                SELECT a.g AS set_a, b.g AS set_b, a.h AS h
                FROM s a JOIN s b ON a.h = b.h AND a.g < b.g),
            common AS (
                SELECT bb.set_a, bb.set_b, COUNT(*) AS cn
                FROM bb JOIN ustat USING (set_a, set_b)
                WHERE bb.h <= ustat.tau
                GROUP BY bb.set_a, bb.set_b),
            j AS (
                SELECT set_a, set_b,
                       CAST(COALESCE(cn, 0) AS DOUBLE)
                         / CAST(LEAST(un, 32) AS DOUBLE) AS jac,
                       CASE WHEN un < 32 THEN CAST(un AS DOUBLE)
                            ELSE {31.0 * float(1 << 60)!r}
                                 / CAST(tau AS DOUBLE) END AS uest
                FROM ustat LEFT JOIN common USING (set_a, set_b))
            SELECT set_a, set_b, ROUND(jac, 4) AS est_jaccard,
                   ROUND(jac * uest, 4) AS est_common
            FROM j""",
        # Histogram quantile sketch: identical bin geometry (width 2048
        # is an exact double), bigint cumulative walk, one final float
        # division — estimates are bit-identical, not approximate-equal.
        "hist_quantiles_prices": """
            WITH binned AS (
                SELECT l_returnflag,
                       GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
                           CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                                      / 2048.0) AS BIGINT))) AS bin
                FROM lineitem),
            sk AS (
                SELECT l_returnflag, bin, COUNT(*) AS cnt
                FROM binned GROUP BY l_returnflag, bin),
            cum AS (
                SELECT l_returnflag, bin, cnt,
                       SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS c,
                       SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
                FROM sk),
            qs AS (
                SELECT CAST(q AS DOUBLE) AS q
                FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(q)),
            hit AS (
                SELECT cum.l_returnflag, qs.q, cum.bin, cum.cnt, cum.c,
                       GREATEST(CAST(1 AS BIGINT),
                                CAST(CEIL(qs.q * cum.n) AS BIGINT)) AS r
                FROM cum CROSS JOIN qs)
            SELECT l_returnflag, q,
                   ROUND(CAST(bin AS DOUBLE) * 2048.0
                         + 2048.0 * CAST(r - (c - cnt) AS DOUBLE)
                           / CAST(cnt AS DOUBLE), 4) AS est_value
            FROM hit
            WHERE c >= r AND c - cnt < r""",
        "group_by_key": """
            SELECT user_id, COUNT(value) AS n FROM events GROUP BY user_id""",
        "dup_span_scrub": f"""
            WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
            g AS (SELECT doc_id, i AS p,
                         md5(array_to_string(toks[i + 1:i + 8], ' ')) AS gh
                  FROM t, UNNEST(range(0, len(toks) - 8 + 1)) AS r(i)),
            d AS (SELECT gh, min(doc_id * 10000000 + p) AS keeper
                  FROM g GROUP BY gh HAVING count(*) > 1),
            f AS (SELECT DISTINCT g.doc_id, g.p FROM g JOIN d USING (gh)
                  WHERE g.doc_id * 10000000 + g.p <> d.keeper),
            pos AS (SELECT doc_id, i AS p, toks[i + 1] AS word
                    FROM t, UNNEST(range(0, len(toks))) AS r(i)),
            m AS (SELECT pos.doc_id, pos.p, pos.word,
                         max(CASE WHEN f.p IS NOT NULL THEN 1 ELSE 0 END)
                           OVER (PARTITION BY pos.doc_id ORDER BY pos.p
                                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                           AS rm
                  FROM pos LEFT JOIN f
                    ON pos.doc_id = f.doc_id AND pos.p = f.p),
            a AS (SELECT doc_id,
                         coalesce(string_agg(word, ' ' ORDER BY p)
                                  FILTER (WHERE rm = 0), '') AS clean_text,
                         count(*) AS n_tokens, sum(rm) AS n_removed
                  FROM m GROUP BY doc_id)
            SELECT doc.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
            FROM documents doc LEFT JOIN a USING (doc_id)""",
        "bpe_token_counts": f"""
            WITH e0 AS (SELECT doc_id, array_to_string(list_transform({toks}, w -> chr(31) || rtrim(regexp_replace(w, '(.)', '\\1' || chr(31) || chr(31), 'g'), chr(31)) || chr(31)), chr(30)) AS s, len({toks}) AS nw FROM documents),
            e1 AS (SELECT doc_id, nw, replace(s, chr(31)||'t'||chr(31)||chr(31)||'h'||chr(31), chr(31)||'th'||chr(31)) AS s FROM e0),
            e2 AS (SELECT doc_id, nw, replace(s, chr(31)||'th'||chr(31)||chr(31)||'e'||chr(31), chr(31)||'the'||chr(31)) AS s FROM e1),
            e3 AS (SELECT doc_id, nw, replace(s, chr(31)||'i'||chr(31)||chr(31)||'n'||chr(31), chr(31)||'in'||chr(31)) AS s FROM e2),
            e4 AS (SELECT doc_id, nw, replace(s, chr(31)||'a'||chr(31)||chr(31)||'n'||chr(31), chr(31)||'an'||chr(31)) AS s FROM e3),
            e5 AS (SELECT doc_id, nw, replace(s, chr(31)||'e'||chr(31)||chr(31)||'r'||chr(31), chr(31)||'er'||chr(31)) AS s FROM e4),
            e6 AS (SELECT doc_id, nw, replace(s, chr(31)||'o'||chr(31)||chr(31)||'n'||chr(31), chr(31)||'on'||chr(31)) AS s FROM e5),
            e7 AS (SELECT doc_id, nw, replace(s, chr(31)||'r'||chr(31)||chr(31)||'e'||chr(31), chr(31)||'re'||chr(31)) AS s FROM e6),
            e8 AS (SELECT doc_id, nw, replace(s, chr(31)||'a'||chr(31)||chr(31)||'t'||chr(31), chr(31)||'at'||chr(31)) AS s FROM e7)
            SELECT doc_id, CAST(nw + (length(s) - length(replace(s, chr(31)||chr(31), ''))) / 2 AS BIGINT) AS n_tokens FROM e8""",
        "bpe_pair_counts": f"""
            WITH w AS (SELECT unnest({toks}) AS word FROM documents),
            v AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
            s AS (SELECT cnt, regexp_extract_all(word, '.') AS syms FROM v),
            p AS (SELECT syms[g] AS a, syms[g + 1] AS b, cnt
                  FROM s, UNNEST(range(1, len(syms))) AS t(g))
            SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_count
            FROM p GROUP BY a, b""",
        # Unigram-LM Viterbi: the SAME int64 packed objective
        # (cost * 8192 + tokens) via a recursive CTE carrying the DP's
        # bests array — one row per (word, prefix length), linear, no
        # path enumeration.  Bit-identical, not approximate-equal.
        "unigram_token_counts": f"""
            WITH RECURSIVE
            w AS (SELECT doc_id, unnest({toks}) AS word FROM documents),
            dw AS (SELECT DISTINCT word FROM w),
            dp AS (
              SELECT word, 0 AS j, [CAST(0 AS BIGINT)] AS bests FROM dw
              UNION ALL
              SELECT word, j + 1,
                list_append(bests, least(
                  coalesce(list_min(list_transform(
                    range(1, least({_UNI_ML}, j + 1) + 1),
                    k -> bests[j + 2 - k]
                         + map_extract({_uni_map()}, substr(word,
                             CAST(j + 2 - k AS INTEGER),
                             CAST(k AS INTEGER)))[1] * {_UNI_SCALE} + 1)),
                    {_UNI_BIG}),
                  bests[j + 1] + {_UNIGRAM_UNK * _UNI_SCALE + 1}))
              FROM dp WHERE j < length(word)),
            fin AS (SELECT word, bests[length(word) + 1] AS best
                    FROM dp WHERE j = length(word))
            SELECT d.doc_id,
                   CAST(coalesce(sum(best % {_UNI_SCALE}), 0) AS BIGINT)
                     AS n_tokens,
                   CAST(coalesce(sum(best // {_UNI_SCALE}), 0) AS BIGINT)
                     AS total_cost
            FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
            LEFT JOIN fin USING (word)
            GROUP BY d.doc_id""",
        # DSIR: same md5 buckets, Laplace smoothing and int64 weight
        # quantization as operators/dsir.py — ln() is the only float
        # (1-ulp engine differences vanish under round(x * 2^16))
        "dsir_scores": f"""
            WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
            feats AS (
              SELECT doc_id, unnest(list_concat(tk,
                       list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i+1])))
                     AS f
              FROM t),
            fb AS (SELECT doc_id,
                          CAST(CAST(('0x' || substr(md5(f), 1, 6))
                               AS BIGINT) % 4096 AS INT) AS bucket
                   FROM feats),
            p AS (SELECT bucket, count(*) AS pc FROM fb
                  WHERE doc_id % 7 = 0 GROUP BY bucket),
            q AS (SELECT bucket, count(*) AS qc FROM fb GROUP BY bucket),
            grid AS (SELECT CAST(unnest(range(0, 4096)) AS INT) AS bucket),
            j AS (SELECT bucket,
                         coalesce(pc, 0) + 1 AS pc,
                         coalesce(qc, 0) + 1 AS qc
                  FROM grid LEFT JOIN p USING (bucket)
                  LEFT JOIN q USING (bucket)),
            tot AS (SELECT CAST(sum(pc) AS DOUBLE) AS P,
                           CAST(sum(qc) AS DOUBLE) AS Q FROM j),
            w AS (SELECT bucket,
                         CAST(round((ln(pc / P) - ln(qc / Q)) * 65536)
                              AS BIGINT) AS w
                  FROM j, tot)
            SELECT d.doc_id,
                   CAST(coalesce(sum(w.w), 0) AS BIGINT) AS dsir_score
            FROM documents d LEFT JOIN fb ON d.doc_id = fb.doc_id
            LEFT JOIN w USING (bucket)
            GROUP BY d.doc_id""",
        # WordPiece piece usage: the greedy walk CTE accumulating the
        # piece list, weighted by word frequency; failed words count
        # one '[UNK]'
        "wordpiece_piece_counts": f"""
            WITH RECURSIVE
            w AS (SELECT doc_id, unnest({toks}) AS word FROM documents),
            wv AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
            walk AS (
              SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS ps,
                     FALSE AS failed
              FROM wv
              UNION ALL
              SELECT word,
                     CASE WHEN k IS NULL THEN pos ELSE pos + k END,
                     CASE WHEN k IS NULL THEN ps
                          ELSE list_append(ps,
                            CASE WHEN pos = 0
                                 THEN substr(word, 1, CAST(k AS INTEGER))
                                 ELSE '##' || substr(word,
                                        CAST(pos + 1 AS INTEGER),
                                        CAST(k AS INTEGER)) END) END,
                     k IS NULL
              FROM (
                SELECT word, pos, ps,
                       list_max(list_filter(range(1, {_WP_MAX_SPAN} + 1),
                         k -> pos + k <= length(word)
                              AND len(map_extract({_wp_map()},
                                    CASE WHEN pos = 0
                                         THEN substr(word, 1,
                                                     CAST(k AS INTEGER))
                                         ELSE '##' || substr(word,
                                                CAST(pos + 1 AS INTEGER),
                                                CAST(k AS INTEGER)) END))
                                  > 0)) AS k
                FROM walk
                WHERE pos < length(word) AND NOT failed) t),
            fin AS (
              SELECT word,
                     CASE WHEN failed THEN ['[UNK]'] ELSE ps END AS ps
              FROM walk
              WHERE failed OR pos >= length(word))
            SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM (SELECT word, unnest(ps) AS piece FROM fin)
            JOIN wv USING (word)
            GROUP BY piece""",
        # streaming session windows: gaps-and-islands over the same
        # event subset; session_end = last event ts + gap (Spark merges
        # sessions at exact-gap adjacency, hence the strict > below)
        "stream_session_exact": """
            WITH e AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE user_id < 200),
            gaps AS (
                SELECT user_id, ts,
                       CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts) IS NULL
                            OR ts - LAG(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts)
                               > INTERVAL '10 minutes'
                            THEN 1 ELSE 0 END AS new_session
                FROM e),
            sessions AS (
                SELECT user_id, ts,
                       SUM(new_session) OVER (PARTITION BY user_id
                           ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps)
            SELECT user_id, MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '10 minutes' AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM sessions GROUP BY user_id, sid""",
        "stream_session_strict_exact": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS u,
                       epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
                FROM events WHERE user_id < 200),
            gaps AS (
                SELECT u, tms,
                       CASE WHEN LAG(tms) OVER (PARTITION BY u
                                                ORDER BY tms) IS NULL
                            OR tms - LAG(tms) OVER (PARTITION BY u
                                                    ORDER BY tms)
                               >= 600000
                            THEN 1 ELSE 0 END AS new_session
                FROM e),
            sessions AS (
                SELECT u, tms,
                       SUM(new_session) OVER (PARTITION BY u
                           ORDER BY tms ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps)
            SELECT u AS user_id,
                   MIN(tms) AS session_start_ms,
                   MAX(tms) + 600000 AS session_end_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM sessions GROUP BY u, sid""",
        # late-wave twin: the oracle sees ONLY the on-time wave
        # (user_id % 5 <> 0) — one leaked late row breaks the hash
        "stream_session_late_exact": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS u,
                       epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
                FROM events WHERE user_id < 200 AND user_id % 5 <> 0),
            gaps AS (
                SELECT u, tms,
                       CASE WHEN LAG(tms) OVER (PARTITION BY u
                                                ORDER BY tms) IS NULL
                            OR tms - LAG(tms) OVER (PARTITION BY u
                                                    ORDER BY tms)
                               >= 600000
                            THEN 1 ELSE 0 END AS new_session
                FROM e),
            sessions AS (
                SELECT u, tms,
                       SUM(new_session) OVER (PARTITION BY u
                           ORDER BY tms ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps)
            SELECT u AS user_id,
                   MIN(tms) AS session_start_ms,
                   MAX(tms) + 600000 AS session_end_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM sessions GROUP BY u, sid""",
        "stream_join_exact": """
            WITH ev AS (SELECT event_id, user_id,
                               epoch_us(CAST(ts AS TIMESTAMP)) AS ts,
                               event_type
                        FROM events WHERE user_id < 150
                          AND event_type IN ('view', 'purchase'))
            SELECT v.user_id,
                   v.event_id AS view_id,
                   p.event_id AS purchase_id,
                   CAST(v.ts AS BIGINT) AS view_us,
                   CAST(p.ts AS BIGINT) AS purchase_us
            FROM ev v JOIN ev p
              ON p.user_id = v.user_id
             AND p.ts >= v.ts
             AND p.ts <= v.ts + 86400000000
            WHERE v.event_type = 'view'
              AND p.event_type = 'purchase'""",
        # late-wave twin: only the on-time wave's pairs exist — one
        # leaked late row on either side breaks the hash
        "stream_join_late_exact": """
            WITH ev AS (SELECT event_id, user_id,
                               epoch_us(CAST(ts AS TIMESTAMP)) AS ts,
                               event_type
                        FROM events WHERE user_id < 150
                          AND user_id % 5 <> 0
                          AND event_type IN ('view', 'purchase'))
            SELECT v.user_id,
                   v.event_id AS view_id,
                   p.event_id AS purchase_id,
                   CAST(v.ts AS BIGINT) AS view_us,
                   CAST(p.ts AS BIGINT) AS purchase_us
            FROM ev v JOIN ev p
              ON p.user_id = v.user_id
             AND p.ts >= v.ts
             AND p.ts <= v.ts + 86400000000
            WHERE v.event_type = 'view'
              AND p.event_type = 'purchase'""",
        "stream_dedup_exact": """
            SELECT DISTINCT event_id FROM events
            WHERE user_id < 400""",
        "stream_dedup_late_exact": """
            SELECT DISTINCT event_id FROM events
            WHERE user_id < 500 AND user_id % 5 <> 0""",
        "stream_window_count_exact": """
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                       AS window_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE user_id < 1000 GROUP BY 1, 2""",
        # three-wave lateness contract: the count keeps on-time rows
        # (event_id % 3 <> 0) plus late-but-within-lateness rows (the
        # % 3 = 0 half of windows ending after the mid-range split M);
        # beyond-lateness rows (% 3 = 0, window end <= M) are dropped
        "stream_window_late_exact": """
            WITH e AS (
                SELECT event_type, event_id,
                       CAST(ts AS TIMESTAMP) AS t,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus
                FROM events WHERE user_id < 1000),
            b AS (
                SELECT ((MIN(tus) // 86400000000
                         + MAX(tus) // 86400000000) // 2 + 1)
                       * 86400000000 AS m_us
                FROM e)
            SELECT date_trunc('day', t) AS window_start, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM e, b
            WHERE event_id % 3 <> 0
               OR (tus // 86400000000 + 1) * 86400000000 > m_us
            GROUP BY 1, 2""",
        "stream_rate_limit_exact": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS user_id, event_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ts_ms
                FROM events WHERE user_id < 300),
            r AS (
                SELECT user_id, event_id, ts_ms,
                       ts_ms // 86400000 * 86400000 AS win_start_ms,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id, ts_ms // 86400000
                           ORDER BY ts_ms, event_id) AS seq
                FROM e)
            SELECT user_id, event_id, CAST(ts_ms AS BIGINT) AS ts_ms,
                   CAST(win_start_ms AS BIGINT) AS win_start_ms,
                   CAST(seq AS INT) AS seq
            FROM r WHERE seq <= 2""",
        # trigger panes are a pure prefix function of the (ts, event_id)-
        # ordered replay: EARLY pane k ends at row 10(k+1) with the
        # running sum; the ON_TIME pane carries the window total with
        # the remainder count (see _stream_trigger_exact docstring)
        "stream_trigger_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 10 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 10) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn % 10 = 0
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt // 10 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 10) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt % 10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM o WHERE rn = 1""",
        # the windowed sharded sink round trip: every line and its
        # exact Beam-convention filename reconstructed from SQL
        "windowed_file_write": """
            SELECT event_id,
                   (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                       * 86400000 AS window_start_ms,
                   CAST(event_id % 4 AS INTEGER) AS shard,
                   printf('events-%d-%d-%05d-of-%05d.txt',
                          (epoch_us(CAST(ts AS TIMESTAMP))
                           // 86400000000) * 86400000,
                          (epoch_us(CAST(ts AS TIMESTAMP))
                           // 86400000000) * 86400000 + 86400000,
                          CAST(event_id % 4 AS INTEGER), 4) AS filename
            FROM events WHERE user_id < 300""",
        "windowed_file_write_dynamic": """
            SELECT event_id, event_type,
                   (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                       * 86400000 AS window_start_ms,
                   CAST(event_id % 2 AS INTEGER) AS shard,
                   printf('%s-%d-%d-%05d-of-%05d.txt', event_type,
                          (epoch_us(CAST(ts AS TIMESTAMP))
                           // 86400000000) * 86400000,
                          (epoch_us(CAST(ts AS TIMESTAMP))
                           // 86400000000) * 86400000 + 86400000,
                          CAST(event_id % 2 AS INTEGER), 2) AS filename
            FROM events WHERE user_id < 300""",
        # streaming sink twin: single-wave replay -> batch 0 -> every
        # filename carries the -pane0 stamp
        "windowed_file_write_stream": """
            SELECT event_id,
                   (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                       * 86400000 AS window_start_ms,
                   CAST(event_id % 4 AS INTEGER) AS shard,
                   printf('events-%d-%d-%05d-of-%05d-pane0.txt',
                          (epoch_us(CAST(ts AS TIMESTAMP))
                           // 86400000000) * 86400000,
                          (epoch_us(CAST(ts AS TIMESTAMP))
                           // 86400000000) * 86400000 + 86400000,
                          CAST(event_id % 4 AS INTEGER), 4) AS filename
            FROM events WHERE user_id < 300""",
        # orFinally(Repeatedly(AfterPane(7))): same prefix-sum shape at
        # fire-every-7 — a different machine composition, same algebra
        "stream_trigger_orfinally_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 7 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 7) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(7 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn % 7 = 0
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt // 7 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 7) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt % 7 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM o WHERE rn = 1""",
        # AfterEach(5, 9): EARLY panes at ordered rows 5 and 14; >= 14
        # elements closes the window mid-stream (is_last on pane 1,
        # everything later dropped).  A window whose trigger is still
        # unfinished at expiry emits its non-empty pending pane as a
        # final ON_TIME row (ReduceFnRunner.onGarbageCollection,
        # FIRE_IF_NON_EMPTY): cnt < 5 -> pane 0 with all cnt elements;
        # 5 < cnt < 14 -> pane 1 with the cnt-5 remainder; cnt = 5 has
        # an empty pending pane and emits nothing further
        "stream_trigger_aftereach_exact": '''
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(0 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   TRUE AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(5 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn = 5
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   FALSE AS is_first,
                   TRUE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(9 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn = 14
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(CASE WHEN cnt < 5 THEN 0 ELSE 1 END
                        AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 5) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(CASE WHEN cnt < 5 THEN cnt ELSE cnt - 5 END
                        AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM o WHERE rn = 1
              AND (cnt < 5 OR (cnt > 5 AND cnt < 14))''',
        # LATE panes + allowed-lateness > 0: wave 1 (event_id % 3 <> 0)
        # fires EARLY panes every 10, every window fires one ON_TIME
        # pane, then the admitted late wave (event_id % 3 = 0, windows
        # ending AFTER the mid-range split M, windows seen in wave 1
        # only) fires a LATE pane every 4 with cross-watermark
        # accumulating totals, plus the expiry final pane for a
        # non-empty late remainder; late rows of windows ending at or
        # before M are dropped entirely (expired per
        # LateDataDroppingDoFnRunner: end + lateness <= watermark)
        "stream_trigger_late_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            b AS (
                SELECT ((MIN(tus) // 86400000000
                         + MAX(tus) // 86400000000) // 2 + 1)
                       * 86400000 AS m_ms
                FROM e),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            w1 AS (SELECT * FROM w WHERE event_id % 3 <> 0),
            o1 AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w1),
            g1 AS (SELECT key, wend, MAX(cnt) AS cnt1, MAX(tot) AS tot1
                   FROM o1 GROUP BY key, wend),
            w2 AS (
                SELECT a.* FROM w a, b
                WHERE a.event_id % 3 = 0 AND a.wend > b.m_ms
                  AND EXISTS (SELECT 1 FROM w1 x
                              WHERE x.key = a.key AND x.wend = a.wend)),
            o2 AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run
                FROM w2),
            g2 AS (SELECT key, wend, COUNT(*) AS cnt2,
                          SUM(event_id) AS tot2
                   FROM w2 GROUP BY key, wend)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 10 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 10) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o1 WHERE rn % 10 = 0
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt1 // 10 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt1 < 10) AS is_first,
                   FALSE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt1 % 10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot1 AS DOUBLE) AS total
            FROM g1
            UNION ALL
            SELECT o2.key, CAST(o2.wend AS BIGINT) AS window_end_ms,
                   CAST(g1.cnt1 // 10 + o2.rn // 4 AS INTEGER)
                       AS pane_index,
                   'LATE' AS timing,
                   FALSE AS is_first,
                   FALSE AS is_last,
                   CAST(o2.rn // 4 AS BIGINT) AS on_time_index,
                   CAST(4 AS INTEGER) AS n_in_pane,
                   CAST(o2.wend AS BIGINT) AS pane_ts_ms,
                   CAST(g1.tot1 + o2.run AS DOUBLE) AS total
            FROM o2 JOIN g1 ON o2.key = g1.key AND o2.wend = g1.wend
            WHERE o2.rn % 4 = 0
            UNION ALL
            SELECT g2.key, CAST(g2.wend AS BIGINT) AS window_end_ms,
                   CAST(g1.cnt1 // 10 + g2.cnt2 // 4 + 1 AS INTEGER)
                       AS pane_index,
                   'LATE' AS timing,
                   FALSE AS is_first,
                   TRUE AS is_last,
                   CAST(g2.cnt2 // 4 + 1 AS BIGINT) AS on_time_index,
                   CAST(g2.cnt2 % 4 AS INTEGER) AS n_in_pane,
                   CAST(g2.wend AS BIGINT) AS pane_ts_ms,
                   CAST(g1.tot1 + g2.tot2 AS DOUBLE) AS total
            FROM g2 JOIN g1 ON g2.key = g1.key AND g2.wend = g1.wend
            WHERE g2.cnt2 % 4 <> 0""",
        # ClosingBehavior.FIRE_ALWAYS with Repeatedly(AfterPane(5)):
        # EARLY pane every 5; Repeatedly never finishes, so EVERY
        # window emits an expiry pane — n_in_pane = cnt % 5, INCLUDING
        # the empty (n = 0) panes of exactly-divisible windows
        "stream_trigger_closing_always_exact": '''
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 5 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 5) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(5 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn % 5 = 0
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt // 5 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 5) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt % 5 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM o WHERE rn = 1''',
        # OnTimeBehavior.FIRE_IF_NON_EMPTY: stream_trigger_exact minus
        # the empty on-time rows (windows whose count divides 10)
        "stream_trigger_ontime_if_nonempty_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 10 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 10) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn % 10 = 0
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt // 10 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 10) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt % 10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM o WHERE rn = 1 AND cnt % 10 <> 0""",
        # TimestampCombiner.EARLIEST: pane_ts_ms = min event time of
        # the pane's OWN elements — EARLY pane k starts at sorted row
        # 10k+1 (LAG 9 back from the firing row), the ON_TIME pane at
        # the first remainder row, empty on-time panes fall back to
        # the window end
        "stream_trigger_earliest_ts_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend, tus,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       LAG(tus, 9) OVER (PARTITION BY key, wend
                                         ORDER BY tus, event_id) AS tus9,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w),
            r AS (
                SELECT key, wend, MAX(cnt) AS cnt, MAX(tot) AS tot,
                       MAX(CASE WHEN rn = cnt - cnt % 10 + 1
                                THEN tus END) AS rem_tus
                FROM o GROUP BY key, wend)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 10 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 10) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(10 AS INTEGER) AS n_in_pane,
                   CAST(tus9 // 1000 AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn % 10 = 0
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt // 10 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 10) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt % 10 AS INTEGER) AS n_in_pane,
                   CAST(COALESCE(rem_tus // 1000, wend) AS BIGINT)
                       AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM r""",
        # Never: the trigger never fires — each window's single pane is
        # the expiry-time final pane (FIRE_IF_NON_EMPTY) with all its
        # elements
        "stream_trigger_never_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(0 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   TRUE AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(COUNT(*) AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(SUM(event_id) AS DOUBLE) AS total
            FROM w GROUP BY key, wend""",
        # AfterFirst(AfterPane(12), AfterWatermark): exactly one pane
        # per window by whichever leg wins — count leg at the 12th
        # sorted element (EARLY, partial prefix total), else watermark
        # leg at the end (ON_TIME, full total); both first-and-last
        "stream_trigger_afterfirst_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(0 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   TRUE AS is_first,
                   TRUE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(12 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run AS DOUBLE) AS total
            FROM o WHERE rn = 12
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(0 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   TRUE AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot AS DOUBLE) AS total
            FROM o WHERE rn = 1 AND cnt < 12""",
        # discarding mode: prefix-sum DIFFERENCES — EARLY pane k is the
        # sum of its own 10 elements, ON_TIME the post-last-fire tail
        "stream_trigger_discarding_exact": """
            WITH e AS (
                SELECT event_type AS key,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       event_id
                FROM events WHERE user_id < 150),
            w AS (
                SELECT key, event_id, tus,
                       (tus // 86400000000 + 1) * 86400000 AS wend
                FROM e),
            o AS (
                SELECT key, wend,
                       ROW_NUMBER() OVER (PARTITION BY key, wend
                                          ORDER BY tus, event_id) AS rn,
                       SUM(event_id) OVER (PARTITION BY key, wend
                                           ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS run,
                       COUNT(*) OVER (PARTITION BY key, wend) AS cnt,
                       SUM(event_id) OVER (PARTITION BY key, wend) AS tot
                FROM w),
            fires AS (SELECT * FROM o WHERE rn % 10 = 0),
            grp_f AS (
                SELECT g.key, g.wend, g.cnt, g.tot,
                       COALESCE(f.run_last, 0) AS run_last
                FROM (SELECT key, wend, MAX(cnt) AS cnt, MAX(tot) AS tot
                      FROM o GROUP BY key, wend) g
                LEFT JOIN (SELECT key, wend, ARG_MAX(run, rn) AS run_last
                           FROM fires GROUP BY key, wend) f
                  ON g.key = f.key AND g.wend = f.wend)
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(rn // 10 - 1 AS INTEGER) AS pane_index,
                   'EARLY' AS timing,
                   (rn = 10) AS is_first,
                   FALSE AS is_last,
                   CAST(-1 AS BIGINT) AS on_time_index,
                   CAST(10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(run - COALESCE(LAG(run) OVER (
                       PARTITION BY key, wend ORDER BY rn), 0)
                       AS DOUBLE) AS total
            FROM fires
            UNION ALL
            SELECT key, CAST(wend AS BIGINT) AS window_end_ms,
                   CAST(cnt // 10 AS INTEGER) AS pane_index,
                   'ON_TIME' AS timing,
                   (cnt < 10) AS is_first,
                   TRUE AS is_last,
                   CAST(0 AS BIGINT) AS on_time_index,
                   CAST(cnt % 10 AS INTEGER) AS n_in_pane,
                   CAST(wend AS BIGINT) AS pane_ts_ms,
                   CAST(tot - run_last AS DOUBLE) AS total
            FROM grp_f""",
        # streaming funnel: the batch funnel CTE over the same event
        # subset, timestamps as epoch microseconds
        "stream_funnel_exact": """
            WITH ev AS (SELECT user_id,
                               epoch_us(CAST(ts AS TIMESTAMP)) AS ts,
                               event_type
                        FROM events WHERE user_id < 200),
            v AS (SELECT user_id, ts AS view_ts FROM ev
                  WHERE event_type = 'view'),
            c AS (
                SELECT user_id, view_ts,
                       (SELECT min(e.ts) FROM ev e
                        WHERE e.user_id = v.user_id
                          AND e.event_type = 'click'
                          AND e.ts > v.view_ts
                          AND e.ts <= v.view_ts + 86400000000)
                           AS click_ts
                FROM v),
            p AS (
                SELECT user_id, view_ts, click_ts,
                       (SELECT min(e.ts) FROM ev e
                        WHERE e.user_id = c.user_id
                          AND e.event_type = 'purchase'
                          AND e.ts > c.click_ts
                          AND e.ts <= c.click_ts + 86400000000)
                           AS purchase_ts
                FROM c WHERE click_ts IS NOT NULL)
            SELECT user_id, CAST(view_ts AS BIGINT) AS view_ts,
                   CAST(click_ts AS BIGINT) AS click_ts,
                   CAST(purchase_ts AS BIGINT) AS purchase_ts
            FROM p WHERE purchase_ts IS NOT NULL""",
        # streaming heavy hitters, exact regime: capacity >= distinct
        # items makes Misra-Gries exact counting, so the whole
        # streamed output is one windowed GROUP BY / HAVING
        "stream_heavy_hitters_exact": """
            SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
                     * 21600000000 AS window_start,
                   event_type AS item,
                   CAST(COUNT(*) AS BIGINT) AS approx_count
            FROM events
            WHERE event_id % 5 = 0
            GROUP BY 1, 2
            HAVING COUNT(*) >= 5""",
        # WordPiece greedy longest-match replayed in SQL: per step the
        # LARGEST admissible span advances the cursor; any miss flags
        # the whole word [UNK] (HF all-or-nothing semantics)
        "wordpiece_token_counts": f"""
            WITH RECURSIVE
            w AS (SELECT doc_id, unnest({toks}) AS word FROM documents),
            dw AS (SELECT DISTINCT word FROM w),
            walk AS (
              SELECT word, 0 AS pos, 0 AS n, FALSE AS failed FROM dw
              UNION ALL
              SELECT word,
                     CASE WHEN k IS NULL THEN pos ELSE pos + k END,
                     CASE WHEN k IS NULL THEN n ELSE n + 1 END,
                     k IS NULL
              FROM (
                SELECT word, pos, n,
                       list_max(list_filter(range(1, {_WP_MAX_SPAN} + 1),
                         k -> pos + k <= length(word)
                              AND len(map_extract({_wp_map()},
                                    CASE WHEN pos = 0
                                         THEN substr(word, 1,
                                                     CAST(k AS INTEGER))
                                         ELSE '##' || substr(word,
                                                CAST(pos + 1 AS INTEGER),
                                                CAST(k AS INTEGER)) END))
                                  > 0)) AS k
                FROM walk
                WHERE pos < length(word) AND NOT failed) t),
            fin AS (
              SELECT word,
                     CASE WHEN failed THEN 1 ELSE n END AS n_tokens,
                     CASE WHEN failed THEN 1 ELSE 0 END AS is_unk
              FROM walk
              WHERE failed OR pos >= length(word))
            SELECT d.doc_id,
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(sum(is_unk), 0) AS BIGINT)
                     AS n_unk_words
            FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
            LEFT JOIN fin USING (word)
            GROUP BY d.doc_id""",
        # the backtrack walk replayed in SQL: j steps down by the
        # SMALLEST k attaining bests[j+1] (the pinned tie-break)
        "unigram_piece_counts": f"""
            WITH RECURSIVE
            w AS (SELECT doc_id, unnest({toks}) AS word FROM documents),
            wv AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
            dp AS (
              SELECT word, 0 AS j, [CAST(0 AS BIGINT)] AS bests FROM wv
              UNION ALL
              SELECT word, j + 1,
                list_append(bests, least(
                  coalesce(list_min(list_transform(
                    range(1, least({_UNI_ML}, j + 1) + 1),
                    k -> bests[j + 2 - k]
                         + map_extract({_uni_map()}, substr(word,
                             CAST(j + 2 - k AS INTEGER),
                             CAST(k AS INTEGER)))[1] * {_UNI_SCALE} + 1)),
                    {_UNI_BIG}),
                  bests[j + 1] + {_UNIGRAM_UNK * _UNI_SCALE + 1}))
              FROM dp WHERE j < length(word)),
            fin AS (SELECT word, bests FROM dp WHERE j = length(word)),
            walk AS (
              SELECT word, bests, CAST(length(word) AS BIGINT) AS j,
                     CAST([] AS VARCHAR[]) AS ps
              FROM fin
              UNION ALL
              SELECT word, bests, j - k,
                     list_append(ps, substr(word,
                         CAST(j - k + 1 AS INTEGER), CAST(k AS INTEGER)))
              FROM (SELECT word, bests, j, ps,
                      list_min(list_filter(
                        range(1, least({_UNI_ML}, j) + 1), k ->
                        bests[j - k + 1] + (CASE WHEN k = 1
                          THEN least(coalesce(map_extract({_uni_map()},
                                 substr(word, CAST(j AS INTEGER), 1))[1],
                                 {_UNI_BIG}), {_UNIGRAM_UNK})
                          ELSE map_extract({_uni_map()}, substr(word,
                                 CAST(j - k + 1 AS INTEGER),
                                 CAST(k AS INTEGER)))[1]
                          END) * {_UNI_SCALE} + 1
                        = bests[j + 1])) AS k
                    FROM walk WHERE j > 0) t),
            seg AS (SELECT word, unnest(ps) AS piece
                    FROM walk WHERE j = 0)
            SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM seg JOIN wv USING (word) GROUP BY piece""",
        "combine_grouped_values": """
            SELECT user_id, COUNT(value) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM events GROUP BY user_id""",
        "sample_deterministic": """
            SELECT o_orderkey FROM orders
            ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 100""",
        "combine_per_key_multi": f"""
            SELECT event_type, {_sql_dsum('value', 'total')},
                   COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
            FROM events GROUP BY event_type""",
        "count_global": "SELECT COUNT(*) AS n FROM lineitem",
        "count_per_element": """
            SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag""",
        "stats_per_key": f"""
            SELECT l_returnflag, MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax,
                   {_sql_davg('l_quantity', 'qavg')}, COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag""",
        "top_global": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
        "top_per_key": """
            SELECT l_returnflag, l_orderkey, l_extendedprice, rank FROM (
                SELECT l_returnflag, l_orderkey, l_extendedprice,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
                FROM lineitem) t
            WHERE rank <= 3""",
        "distinct_segments": "SELECT DISTINCT c_mktsegment FROM customer",
        "distinct_representative": """
            SELECT o_custkey, MIN(o_orderkey) AS first_orderkey,
                   arg_min(o_totalprice, o_orderkey) AS first_price
            FROM orders GROUP BY o_custkey""",
        "latest_per_user": """
            SELECT user_id, ts AS latest_ts, event_id AS latest_event FROM (
                SELECT user_id, ts, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t
            WHERE rn = 1""",
        "distinct_count_exact": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type""",
        "quantiles_exact": """
            SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
                   ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
            FROM lineitem""",
        "join_inner": """
            SELECT o_orderkey, c_name FROM orders
            JOIN customer ON o_custkey = c_custkey""",
        "join_left_agg": f"""
            SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
                   COALESCE({_sql_dsum('o_totalprice', 'x').replace(' AS x', '')}, 0.0) AS spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey""",
        "join_right": """
            SELECT r_name, n_name FROM nation
            RIGHT JOIN region ON n_regionkey = r_regionkey""",
        "join_full": """
            SELECT r_name, n_name FROM region
            FULL OUTER JOIN nation ON r_regionkey = n_regionkey""",
        "join_semi": """
            SELECT c_custkey FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "join_anti": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 400000)""",
        "star_join_revenue": f"""
            SELECT r_name, n_name,
                   CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name""",
        "cogroup_by_key": """
            SELECT COALESCE(o.key, l.key) AS key,
                   COALESCE(o.n, 0) AS n_orders, COALESCE(l.n, 0) AS n_items
            FROM (SELECT o_orderkey AS key, COUNT(*) AS n FROM orders GROUP BY 1) o
            FULL OUTER JOIN
                 (SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1) l
            ON o.key = l.key""",
        "flatten_union": """
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1000
            UNION ALL
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000""",
        "partition_branch": """
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0""",
        "kv_swap": "SELECT value AS key, event_type AS value FROM events",
        "tostring_kvs": """
            SELECT CAST(r_regionkey AS VARCHAR) || ',' || r_name AS str FROM region""",
        "regex_matches": r"""
            SELECT regexp_extract(c_name, 'Customer#(\d+)', 1) AS cust_num
            FROM customer WHERE regexp_matches(c_name, 'Customer#(\d+)')""",
        "regex_replace": r"""
            SELECT doc_id, regexp_replace(text, '\bdata\b', 'DATA', 'g') AS text2
            FROM documents""",
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events""",
        "window_fixed": f"""
            SELECT date_trunc('hour', ts) AS ws, event_type,
                   COUNT(*) AS n, {_sql_dsum('value', 'total')}
            FROM events GROUP BY 1, 2""",
        "window_sliding": """
            SELECT ws, COUNT(*) AS n FROM (
                SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws
                FROM events) t
            GROUP BY ws""",
        "window_session": """
            WITH gaps AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 > INTERVAL '10 minutes'
                            OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events),
            sessions AS (
                SELECT user_id, ts,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps)
            SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
            FROM sessions GROUP BY user_id, sid""",
        # variable-gap gaps-and-islands: a new island iff ts exceeds
        # the running MAX of previous (ts + per-event gap); session_end
        # = MAX(ts + gap) pins the dynamic gap itself.  event_id
        # tie-breaks the window order; the result is order-insensitive
        # (same-ts proto-windows always overlap and merge)
        "window_session_dynamic": """
            WITH e AS (
                SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
                       CASE event_type
                           WHEN 'purchase' THEN INTERVAL '30 minutes'
                           WHEN 'view' THEN INTERVAL '5 minutes'
                           ELSE INTERVAL '10 minutes' END AS gap
                FROM events),
            g AS (
                SELECT user_id, event_id, t, gap,
                       MAX(t + gap) OVER (
                           PARTITION BY user_id ORDER BY t, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_end
                FROM e),
            s AS (
                SELECT user_id, t, gap,
                       SUM(CASE WHEN prev_end IS NULL OR t > prev_end
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id ORDER BY t, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
            SELECT user_id, MIN(t) AS session_start,
                   MAX(t + gap) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid""",
        # streaming twin of window_session_dynamic: same variable-gap
        # islands over the user_id < 200 replay cohort
        "stream_session_dynamic_exact": """
            WITH e AS (
                SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
                       CASE event_type
                           WHEN 'purchase' THEN INTERVAL '30 minutes'
                           WHEN 'view' THEN INTERVAL '5 minutes'
                           ELSE INTERVAL '10 minutes' END AS gap
                FROM events WHERE user_id < 200),
            g AS (
                SELECT user_id, event_id, t, gap,
                       MAX(t + gap) OVER (
                           PARTITION BY user_id ORDER BY t, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_end
                FROM e),
            s AS (
                SELECT user_id, t, gap,
                       SUM(CASE WHEN prev_end IS NULL OR t > prev_end
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id ORDER BY t, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
            SELECT user_id, MIN(t) AS session_start,
                   MAX(t + gap) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid""",
        "window_session_strict": """
            WITH gaps AS (
                SELECT user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 >= INTERVAL '10 minutes'
                            OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events),
            sessions AS (
                SELECT user_id, ts,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps)
            SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
            FROM sessions GROUP BY user_id, sid""",
        "window_calendar_month": f"""
            SELECT date_trunc('month', o_orderdate) AS month,
                   COUNT(*) AS n_orders, {_sql_dsum('o_totalprice', 'total')}
            FROM orders GROUP BY 1""",
        "group_into_batches": """
            SELECT user_id,
                   CASE WHEN g < n // 10 THEN 10 ELSE n % 10 END AS batch_size
            FROM (
                SELECT user_id, n,
                       unnest(range(0, CAST(CEIL(n / 10.0) AS INT))) AS g
                FROM (SELECT user_id, COUNT(*)::INT AS n
                      FROM events GROUP BY user_id) c) t""",
        "text_stats": f"""
            SELECT doc_id, LENGTH(text) AS n_chars,
                   len({toks}) AS n_tokens,
                   ROUND(list_sum(list_transform({toks}, t -> LENGTH(t)))
                         / len({toks}), 6) AS mean_word_len
            FROM documents""",
        "quality_score": f"""
            SELECT doc_id, ROUND((
                (CASE WHEN LENGTH(text) >= 50 THEN 1.0 ELSE LENGTH(text) / 50.0 END)
                + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                        '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                        / NULLIF(LENGTH(text), 0)), 1.0))
                + LEAST(5 * (len(list_filter({toks}, t -> t IN ('the','of','and','a','to',
                        'in','is','it','that','was','for','on','as','with','at','by','an',
                        'be','this','are','or','not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
            ) / 3.0, 6) AS q
            FROM documents""",
        "lang_id": f"""
            SELECT doc_id,
                CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                     WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
                     WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
                     WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
                     ELSE 'es' END AS lang_pred
            FROM (SELECT doc_id, {lang_scores} FROM documents) t""",
        "fingerprint_docs": f"""
            SELECT doc_id, md5({norm_text}) AS fp FROM documents""",
        "pii_scrub": _pii_scrub_oracle_sql(),
        "dedup_exact": f"""
            SELECT doc_id FROM documents
            WHERE doc_id IN (
                SELECT MIN(doc_id) FROM documents GROUP BY md5({norm_text}))""",
        "stream_minhash_dedup": f"""
            WITH t0 AS (
                SELECT doc_id, {toks} AS toks FROM documents
                WHERE doc_id < 40
            ), sh0 AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_distinct({shingle_expr})) AS s
                FROM t0
            ), hx0 AS (
                SELECT id, i, MIN(substr(md5(s || ':' || i), 1, 16)) AS h
                FROM sh0, (SELECT unnest(range(0, 64)) AS i)
                GROUP BY id, i
            ), bands0 AS (
                SELECT id, i // 4 AS band,
                       md5(string_agg(h, '' ORDER BY i)) AS bh
                FROM hx0 GROUP BY id, i // 4
            ), coll AS (
                SELECT DISTINCT x.id FROM bands0 x JOIN bands0 y
                  ON x.band = y.band AND x.bh = y.bh AND x.id <> y.id
            ), base AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id < 40 AND doc_id NOT IN (SELECT id FROM coll)
            ), input AS (
                SELECT doc_id, text FROM base
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz' FROM base
                UNION ALL
                SELECT doc_id + 20000, text FROM base
            ), t AS (
                SELECT doc_id, {toks} AS toks FROM input
            ), sh AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_distinct({shingle_expr})) AS s
                FROM t
            ), hx AS (
                SELECT id, i, MIN(substr(md5(s || ':' || i), 1, 16)) AS h
                FROM sh, (SELECT unnest(range(0, 64)) AS i)
                GROUP BY id, i
            ), bands AS (
                SELECT id, i // 4 AS band,
                       md5(string_agg(h, '' ORDER BY i)) AS bh
                FROM hx GROUP BY id, i // 4
            ), dropped AS (
                SELECT DISTINCT b.id
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bh = b.bh
                 AND a.id // 10000 < b.id // 10000
            )
            SELECT i.doc_id FROM input i
            WHERE i.doc_id NOT IN (SELECT id FROM dropped)""",
        "dedup_minhash_md5": f"""
            WITH t AS (
                SELECT doc_id, {toks} AS toks FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_distinct({shingle_expr})) AS s
                FROM t
            ), hx AS (
                SELECT id, i, MIN(substr(md5(s || ':' || i), 1, 16)) AS h
                FROM sh, (SELECT unnest(range(0, 64)) AS i)
                GROUP BY id, i
            ), bands AS (
                SELECT id, i // 4 AS band,
                       md5(string_agg(h, '' ORDER BY i)) AS bh
                FROM hx GROUP BY id, i // 4
            ), bmin AS (
                SELECT band, bh, MIN(id) AS m FROM bands GROUP BY band, bh
            ), canon AS (
                SELECT bands.id, MIN(m) AS c
                FROM bands JOIN bmin USING (band, bh) GROUP BY bands.id
            )
            SELECT d.doc_id FROM documents d
            LEFT JOIN canon ON canon.id = d.doc_id
            WHERE COALESCE(canon.c, d.doc_id) = d.doc_id""",
        "dedup_simhash_md5": f"""
            WITH tok AS (
                SELECT doc_id AS id, unnest({toks}) AS t FROM documents
            ), hx AS (
                SELECT id, substr(md5(t), 1, 16) AS hx FROM tok
            ), bits AS (
                SELECT id, j,
                       (((instr('0123456789abcdef', substr(hx, 16 - j // 4, 1)) - 1)
                         >> (j % 4)) & 1) AS b
                FROM hx, (SELECT unnest(range(0, 64)) AS j)
            ), bsum AS (
                SELECT id, j, SUM(b) AS ones, COUNT(*) AS n
                FROM bits GROUP BY id, j
            ), bitstr AS (
                SELECT id, string_agg(CASE WHEN 2 * ones > n THEN '1' ELSE '0' END,
                                      '' ORDER BY j) AS bs
                FROM bsum GROUP BY id
            ), chunks AS (
                SELECT id, bs, c, substr(bs, c * 16 + 1, 16) AS ck
                FROM bitstr, (SELECT unnest(range(0, 4)) AS c)
            ), dup AS (
                SELECT DISTINCT b.id AS id_b
                FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.id < b.id
                WHERE len(list_filter(range(1, 65),
                          j -> substr(a.bs, j, 1) <> substr(b.bs, j, 1))) <= 3
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM dup)""",
        "ngram_jaccard": f"""
            WITH sh AS (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS (SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
                GROUP BY x.id, y.id)
            SELECT id_a, id_b,
                   ROUND(inter * 1.0 / (a.n + b.n - inter), 6) AS jaccard
            FROM inter
            JOIN sizes a ON a.id = id_a
            JOIN sizes b ON b.id = id_b
            WHERE inter * 1.0 / (a.n + b.n - inter) >= 0.5""",
        "ngram_containment": f"""
            WITH sh AS MATERIALIZED (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS MATERIALIZED (
                SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS MATERIALIZED (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id <> y.id
                GROUP BY x.id, y.id)
            SELECT id_a, id_b,
                   ROUND(inter * 1.0 / a.n, 6) AS containment
            FROM inter JOIN sizes a ON a.id = id_a
            WHERE inter * 1.0 / a.n >= 0.8""",
        "chunk_dedup": f"""
            WITH toks AS (
                SELECT doc_id, {toks} AS w FROM documents),
            ch AS (
                SELECT doc_id, CAST(i AS INT) AS idx,
                       array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
                FROM toks,
                     unnest(generate_series(0,
                         CAST(ceil(len(w)/10.0) AS INT) - 1)) AS t(i)
                WHERE len(w) > 0),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY chunk ORDER BY doc_id, idx) AS rn
                FROM ch)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   COALESCE(string_agg(chunk, ' ' ORDER BY idx)
                       FILTER (rn = 1), '') AS text_dedup
            FROM ranked GROUP BY doc_id""",
        "decontaminate_benchmark": f"""
            WITH sh AS MATERIALIZED (
                SELECT doc_id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh
                      WHERE doc_id % 37 = 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            agg AS (
                SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                       CAST(COUNT(b.g) AS BIGINT) AS n_matched
                FROM ex LEFT JOIN bench b USING (g)
                GROUP BY ex.doc_id)
            SELECT doc_id, n_grams, n_matched,
                   ROUND(n_matched / n_grams, 6) AS contamination,
                   ROUND(n_matched / n_grams, 6) >= 0.5 AS contaminated
            FROM agg""",
        # transitive closure over the SAME jaccard>=0.5 pair set; MIN of
        # reachable ids == the hash-min fixpoint the Spark operator finds
        "dup_clusters": f"""
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS (SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
                GROUP BY x.id, y.id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes a ON a.id = id_a
                JOIN sizes b ON b.id = id_b
                WHERE inter * 1.0 / (a.n + b.n - inter) >= 0.5),
            edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node)
            SELECT node AS doc_id, MIN(comp) AS component
            FROM reach GROUP BY node""",
        "embed_knn": """
            SELECT query_id, neighbor_id, rank, sim FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROUND(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS sim,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) DESC,
                           c.vec_id) AS rank
                FROM embeddings q CROSS JOIN embeddings c
                WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id) t
            WHERE rank <= 3""",
        "embed_near_dup": """
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planted AS (
                SELECT a.vec_id + 1000000 AS vec_id,
                       list_transform(a.v, (x, i) -> x + 0.2 * (b.v)[i]) AS v
                FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
                WHERE a.vec_id % 10 = 0),
            allv AS (SELECT * FROM (
                SELECT * FROM base UNION ALL SELECT * FROM planted)
                WHERE vec_id % 2 = 0)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.95""",
        "semantic_dedup": """
            WITH RECURSIVE base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planted AS (
                SELECT a.vec_id + 1000000 AS vec_id,
                       list_transform(a.v, (x, i) -> x + 0.2 * (b.v)[i]) AS v
                FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
                WHERE a.vec_id % 10 = 0),
            allv AS (SELECT * FROM (
                SELECT * FROM base UNION ALL SELECT * FROM planted)
                WHERE vec_id % 2 = 0),
            c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 8),
            asg AS (
                SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                               ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
                    FROM allv e CROSS JOIN c) t
                WHERE rn = 1),
            pv AS (SELECT a.vec_id, a.v, asg.cid
                   FROM allv a JOIN asg USING (vec_id)),
            pairs AS (
                SELECT x.vec_id AS id_a, y.vec_id AS id_b
                FROM pv x JOIN pv y
                  ON x.cid = y.cid AND x.vec_id < y.vec_id
                WHERE list_dot_product(x.v, y.v)
                      / (sqrt(list_dot_product(x.v, x.v))
                         * sqrt(list_dot_product(y.v, y.v))) >= 0.95),
            edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
                SELECT vec_id, vec_id FROM allv
                UNION
                SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node)
            SELECT node AS vec_id, MIN(comp) AS component,
                   node = MIN(comp) AS is_representative
            FROM reach GROUP BY node""",
        "secondary_sort": """
            SELECT l_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                       ORDER BY l_shipdate, l_linenumber) AS pos_rank,
                   l_linenumber
            FROM lineitem""",
        "sample_fixed_per_key": """
            SELECT l_returnflag, l_orderkey, l_linenumber FROM (
                SELECT l_returnflag, l_orderkey, l_linenumber,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag
                           ORDER BY md5(concat(CAST(l_orderkey AS VARCHAR), '-',
                                               CAST(l_linenumber AS VARCHAR)))) AS rn
                FROM lineitem) t
            WHERE rn <= 5""",
        "regex_find_all": """
            SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS w
            FROM documents""",
        "combine_fanout_count": """
            SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type""",
        "media_metadata": """
            SELECT doc_id, octet_length(encode(text)) AS size_bytes,
                   sha256(text) AS content_sha
            FROM documents""",
        "media_frame_sample": """
            SELECT doc_id,
                   unnest(range(0, CAST(greatest(octet_length(encode(text)) // 64, 1) AS BIGINT), 5)) AS frame_idx
            FROM documents""",
        "autocomplete": f"""
            WITH words AS (
                SELECT unnest({toks}) AS word FROM documents
            ), counts AS (
                SELECT word, COUNT(*) AS n FROM words
                WHERE len(word) >= 2 GROUP BY word
            )
            SELECT prefix, word, n, rank FROM (
                SELECT substr(word, 1, 2) AS prefix, word, n,
                       ROW_NUMBER() OVER (PARTITION BY substr(word, 1, 2)
                           ORDER BY n DESC, word) AS rank
                FROM counts) t
            WHERE rank <= 3""",
        "tfidf": f"""
            WITH w6 AS (
                SELECT doc_id, unnest({toks}) AS word FROM documents
            ), w AS (SELECT * FROM w6 WHERE len(word) >= 6),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
            df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
            nd AS (SELECT COUNT(*) AS n FROM documents)
            SELECT tf.doc_id, tf.word,
                   ROUND(tf.tf * ln(CAST(nd.n AS DOUBLE) / df.df), 6) AS tfidf
            FROM tf JOIN df USING (word) CROSS JOIN nd""",
        "collocations_pmi": f"""
            WITH tk AS (SELECT {toks} AS t FROM documents),
            bg AS (SELECT t[i] AS w1, t[i+1] AS w2
                   FROM tk, unnest(range(1, len(t))) AS u(i)),
            uni AS (SELECT unnest(t) AS w FROM tk),
            cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2),
            ca AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
            tot AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM bg) AS m,
                           (SELECT CAST(COUNT(*) AS DOUBLE) FROM uni) AS n)
            SELECT w1, w2, c_ab,
                   ROUND(ln((c_ab / m) / ((a.c / n) * (b.c / n))), 6) AS pmi
            FROM cab CROSS JOIN tot
            JOIN ca a ON a.w = cab.w1
            JOIN ca b ON b.w = cab.w2
            WHERE c_ab >= 20""",
        "source_quality_report": f"""
            WITH q AS (
                SELECT doc_id, source, n_chars,
                       ROUND((
                        (CASE WHEN LENGTH(text) >= 50 THEN 1.0 ELSE LENGTH(text) / 50.0 END)
                        + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                                '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                                / NULLIF(LENGTH(text), 0)), 1.0))
                        + LEAST(5 * (len(list_filter({toks}, t -> t IN ('the','of','and','a','to',
                                'in','is','it','that','was','for','on','as','with','at','by','an',
                                'be','this','are','or','not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
                       ) / 3.0, 6) AS q,
                       md5({norm_text}) AS fp
                FROM documents),
            w AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS witness
                  FROM q)
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*), 6) AS avg_quality,
                   ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
                       AS avg_chars,
                   COUNT(CASE WHEN doc_id <> witness THEN 1 END) AS n_dup_docs
            FROM w GROUP BY source""",
        "weekly_retention": """
            WITH first AS (
                SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
                FROM events GROUP BY user_id),
            active AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS week
                FROM events)
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT)
                       AS week_offset,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM active a JOIN first f USING (user_id)
            GROUP BY f.cohort_week, week_offset""",
        "event_type_pivot": """
            SELECT user_id,
                   COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                   COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                   COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
            FROM events GROUP BY user_id""",
        "funnel_view_purchase": """
            SELECT user_id, COUNT(*) AS n_converted_views
            FROM events v
            WHERE event_type = 'view'
              AND EXISTS (SELECT 1 FROM events p
                          WHERE p.user_id = v.user_id
                            AND p.event_type = 'purchase'
                            AND p.ts > v.ts
                            AND p.ts <= v.ts + INTERVAL 1 HOUR)
            GROUP BY user_id""",
        "heavy_hitter_words": f"""
            WITH tok AS MATERIALIZED (
                SELECT unnest({toks}) AS item FROM documents),
            t AS (SELECT COUNT(*) AS n FROM tok)
            SELECT item, COUNT(*) AS freq
            FROM tok CROSS JOIN t
            GROUP BY item, n
            HAVING COUNT(*) * 51 > n""",
        "top_words": f"""
            WITH tok AS (SELECT unnest({toks}) AS item FROM documents)
            SELECT item, COUNT(*) AS freq
            FROM tok GROUP BY item
            ORDER BY freq DESC, item LIMIT 15""",
        "repetition_stats": f"""
            WITH tk AS MATERIALIZED (
                SELECT doc_id, {toks} AS t FROM documents),
            uni AS (SELECT doc_id, unnest(t) AS w FROM tk),
            wc AS (SELECT doc_id, w, COUNT(*) AS c
                   FROM uni GROUP BY doc_id, w),
            u AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                         MAX(c) AS top_c, COUNT(*) AS n_dist
                  FROM wc GROUP BY doc_id),
            bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b
                   FROM tk, unnest(range(1, len(t))) AS u(i)),
            bc AS (SELECT doc_id, b, COUNT(*) AS c
                   FROM bg GROUP BY doc_id, b),
            bgg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
                           MAX(c) AS top_bc
                    FROM bc GROUP BY doc_id)
            SELECT u.doc_id, u.n_words,
                   ROUND(1 - u.n_dist / u.n_words, 6) AS dup_word_frac,
                   ROUND(u.top_c / u.n_words, 6) AS top_word_frac,
                   ROUND(COALESCE(g.top_bc / g.n_bg, 0.0), 6)
                       AS top_bigram_frac
            FROM u LEFT JOIN bgg g USING (doc_id)""",
        "trigram_logprob": """
            WITH s AS (
                SELECT doc_id,
                       regexp_replace(lower(text), '\\s+', ' ', 'g') AS s
                FROM documents),
            g AS MATERIALIZED (
                SELECT doc_id,
                       unnest(CASE WHEN length(s) >= 3
                              THEN list_transform(range(1, length(s) - 1),
                                                  i -> substr(s, i, 3))
                              ELSE [s] END) AS g
                FROM s),
            c AS MATERIALIZED (SELECT g, COUNT(*) AS c FROM g GROUP BY g),
            t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM g)
            SELECT doc_id, ROUND(AVG(ln(c.c / t.t)), 6) AS logprob
            FROM g JOIN c USING (g) CROSS JOIN t
            GROUP BY doc_id""",
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) <
                  CASE lang WHEN 'en' THEN '800' WHEN 'de' THEN '400'
                            WHEN 'fr' THEN '200' WHEN 'es' THEN '600'
                            ELSE '100' END""",
        # single-window twin of the hierarchical two-phase prefix sum:
        # (bucket, h, id) order == (h, id) order because the bucket is a
        # prefix of h, so the flat cumulative sum is the same total
        "mixture_cap_tokens": f"""
            WITH t AS (
                SELECT doc_id, source,
                       CAST(len({toks}) AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
            c AS (
                SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
            SELECT doc_id, source, n_tokens, cum_tokens FROM c
            WHERE cum_tokens <= CASE source WHEN 'src0' THEN 1000
                                            WHEN 'src1' THEN 200
                                            WHEN 'src5' THEN 0
                                            ELSE 600 END""",
        "table_profile": """
            SELECT 'o_orderkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
                   CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
            FROM orders
            UNION ALL
            SELECT 'o_custkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
                   CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
                   CAST(MAX(o_custkey) AS VARCHAR) AS max_s
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
                   CAST(MIN(o_orderstatus) AS VARCHAR) AS min_s,
                   CAST(MAX(o_orderstatus) AS VARCHAR) AS max_s
            FROM orders
            UNION ALL
            SELECT 'o_totalprice' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
                   CAST(MIN(o_totalprice) AS VARCHAR) AS min_s,
                   CAST(MAX(o_totalprice) AS VARCHAR) AS max_s
            FROM orders
            UNION ALL
            SELECT 'o_orderdate' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
                   CAST(MIN(o_orderdate) AS VARCHAR) AS min_s,
                   CAST(MAX(o_orderdate) AS VARCHAR) AS max_s
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
                   CAST(MIN(o_orderpriority) AS VARCHAR) AS min_s,
                   CAST(MAX(o_orderpriority) AS VARCHAR) AS max_s
            FROM orders""",
        "train_val_test_split": """
            SELECT doc_id, lang,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                             < 'ccd' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                             < 'e66' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        "value_zscore_outliers": """
            WITH st AS (
                SELECT event_type,
                       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS mu,
                       sqrt((CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                                 * CAST(value AS DECIMAL(18,2))
                                 AS DECIMAL(38,4))) AS DOUBLE)
                             - CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                    AS DOUBLE)
                               * CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                      AS DOUBLE) / COUNT(*))
                            / (COUNT(*) - 1)) AS sd
                FROM events GROUP BY event_type)
            SELECT event_id, e.event_type, value,
                   ROUND((value - mu) / sd, 6) AS z
            FROM events e JOIN st ON e.event_type = st.event_type
            WHERE ABS((value - mu) / sd) > 2.5""",
        "rfm_segments": f"""
            WITH d0 AS (SELECT MAX(o_orderdate) AS d FROM orders),
            pc AS (
                SELECT o_custkey, MAX(o_orderdate) AS last_order,
                       COUNT(*) AS frequency,
                       {_sql_dsum('o_totalprice', 'monetary')}
                FROM orders GROUP BY o_custkey)
            SELECT o_custkey,
                   CAST(datediff('day', last_order, d) AS INT)
                       AS recency_days,
                   frequency, monetary,
                   CASE WHEN datediff('day', last_order, d) <= 180
                             AND frequency >= 10 THEN 'champion'
                        WHEN datediff('day', last_order, d) <= 180
                             THEN 'active'
                        WHEN frequency >= 10 THEN 'at_risk_big'
                        ELSE 'dormant' END AS segment
            FROM pc, d0""",
        "quality_percentile": f"""
            WITH s AS (
                SELECT doc_id, ROUND((
                    (CASE WHEN LENGTH(text) >= 50 THEN 1.0
                          ELSE LENGTH(text) / 50.0 END)
                    + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                            '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                            / NULLIF(LENGTH(text), 0)), 1.0))
                    + LEAST(5 * (len(list_filter({toks},
                            t -> t IN ('the','of','and','a','to',
                            'in','is','it','that','was','for','on','as',
                            'with','at','by','an','be','this','are','or',
                            'not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
                ) / 3.0, 6) AS q
                FROM documents)
            SELECT doc_id, q AS score,
                   ROUND((ROW_NUMBER() OVER (ORDER BY q, doc_id) - 1.0)
                         / (COUNT(*) OVER () - 1), 6) AS pct
            FROM s""",
        "feature_store_events": """
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w1h AS BIGINT) AS n_1h,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w1h
                         AS DOUBLE), 6) AS sum_1h,
                   MAX(CASE WHEN event_type = 'purchase' THEN s END)
                       OVER wprev AS last_purchase_s,
                   MAX(CASE WHEN gap IS NULL OR gap > 1800 THEN s END)
                       OVER wrun AS session_start_s
            FROM (
                SELECT event_id, user_id, event_type, value,
                       (epoch_us(ts) // 1000000) AS s,
                       (epoch_us(ts) // 1000000)
                       - LAG(epoch_us(ts) // 1000000) OVER
                             (PARTITION BY user_id
                              ORDER BY epoch_us(ts) // 1000000, event_id)
                           AS gap
                FROM events) t
            WINDOW
                w1h AS (PARTITION BY user_id ORDER BY s
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
                wprev AS (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING),
                wrun AS (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)""",
        "props_flatten": """
            SELECT event_type,
                   CAST(k % 10 AS INT) AS k_mod,
                   COUNT(*) AS n,
                   CAST(MIN(k) AS INT) AS k_min,
                   CAST(MAX(k) AS INT) AS k_max
            FROM (SELECT event_type,
                         CAST(json_extract(props, '$.k') AS INT) AS k
                  FROM events) t
            GROUP BY 1, 2""",
        "rolling_features": """
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w
                         AS DOUBLE), 6) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY (epoch_us(ts) // 1000000)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
        "rollup_ohlc": """
            WITH e AS (
                SELECT event_type, event_id, value,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                       epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                           AS bucket_h
                FROM events),
            r AS (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY event_type,
                           bucket_h ORDER BY tus, event_id) AS rn_a,
                       ROW_NUMBER() OVER (PARTITION BY event_type,
                           bucket_h ORDER BY tus DESC, event_id DESC)
                           AS rn_d
                FROM e)
            SELECT event_type, CAST(bucket_h AS BIGINT) AS bucket_h,
                   ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6)
                       AS open,
                   ROUND(MAX(value), 6) AS high,
                   ROUND(MIN(value), 6) AS low,
                   ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6)
                       AS close,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM r GROUP BY 1, 2""",
        "fuzzy_join_customers": """
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   a.c_name AS name_a, b.c_name AS name_b,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND levenshtein(a.c_name, b.c_name) <= 1""",
        "timeseries_gapfill": """
            WITH o AS (
                SELECT user_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
                       COUNT(*) AS n
                FROM events WHERE user_id < 30 GROUP BY 1, 2),
            b AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx
                  FROM o GROUP BY 1),
            g AS (SELECT user_id, unnest(range(mn, mx + 1)) AS h FROM b),
            j AS (SELECT g.user_id, g.h, o.n
                  FROM g LEFT JOIN o ON o.user_id = g.user_id
                                    AND o.h = g.h),
            w AS (
                SELECT user_id, h, n,
                       last_value(n IGNORE NULLS) OVER wp AS pv,
                       last_value(CASE WHEN n IS NOT NULL THEN h END
                                  IGNORE NULLS) OVER wp AS pt,
                       first_value(n IGNORE NULLS) OVER wn AS nv,
                       first_value(CASE WHEN n IS NOT NULL THEN h END
                                   IGNORE NULLS) OVER wn AS nt
                FROM j
                WINDOW wp AS (PARTITION BY user_id ORDER BY h
                              ROWS UNBOUNDED PRECEDING),
                       wn AS (PARTITION BY user_id ORDER BY h
                              ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING))
            SELECT user_id, CAST(h AS BIGINT) AS bucket_h,
                   CAST(CASE WHEN n IS NOT NULL THEN n
                        ELSE pv + CAST(FLOOR(
                            CAST((nv - pv) * (h - pt) AS DOUBLE)
                            / (nt - pt)) AS BIGINT)
                        END AS BIGINT) AS n,
                   CAST(n IS NULL AS INT) AS is_gap
            FROM w""",
        "inverted_index": f"""
            WITH wt AS (
                SELECT DISTINCT doc_id, w FROM (
                    SELECT doc_id, unnest({toks}) AS w FROM documents) t
                WHERE length(w) >= 4)
            SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS df,
                   array_to_string(list_sort(list(doc_id))[1:20], ',')
                       AS postings
            FROM wt GROUP BY w""",
        "dedup_incremental": f"""
            WITH f AS (SELECT doc_id, md5({norm_text}) AS fp
                       FROM documents),
            newb AS (
                SELECT doc_id, fp FROM f WHERE doc_id >= 250
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id < 50
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id = 300)
            SELECT doc_id FROM (
                SELECT doc_id, fp,
                       ROW_NUMBER() OVER (PARTITION BY fp
                                          ORDER BY doc_id) AS rn
                FROM newb
                WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id < 250)) t
            WHERE rn = 1""",
        # the Bloom-pruned path must produce EXACTLY the plain anti
        # join (the filter prunes, never decides) — same oracle
        "dedup_incremental_minhash_md5": f"""
            WITH inp AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz' FROM documents
                WHERE doc_id < 50
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz' FROM documents
                WHERE doc_id = 300
            ), t AS (
                SELECT doc_id, {toks} AS toks FROM inp
            ), sh AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_distinct({shingle_expr})) AS s
                FROM t
            ), hx AS (
                SELECT id, i, MIN(substr(md5(s || ':' || i), 1, 16)) AS h
                FROM sh, (SELECT unnest(range(0, 64)) AS i)
                GROUP BY id, i
            ), bands AS (
                SELECT id, i // 4 AS band,
                       md5(string_agg(h, '' ORDER BY i)) AS bh
                FROM hx GROUP BY id, i // 4
            ), hb AS (
                SELECT DISTINCT band, bh FROM bands WHERE id < 250
            ), bb AS (
                SELECT id, band, bh FROM bands WHERE id >= 250
            ), hits AS (
                SELECT DISTINCT bb.id FROM bb JOIN hb USING (band, bh)
            ), bmin AS (
                SELECT band, bh, MIN(id) AS m FROM bb GROUP BY band, bh
            ), canon AS (
                SELECT bb.id, MIN(m) AS c
                FROM bb JOIN bmin USING (band, bh) GROUP BY bb.id
            )
            SELECT i.doc_id FROM
                (SELECT doc_id FROM inp WHERE doc_id >= 250) i
            LEFT JOIN canon ON canon.id = i.doc_id
            WHERE COALESCE(canon.c, i.doc_id) = i.doc_id
              AND i.doc_id NOT IN (SELECT id FROM hits)""",
        "dedup_incremental_bloom": f"""
            WITH f AS (SELECT doc_id, md5({norm_text}) AS fp
                       FROM documents),
            newb AS (
                SELECT doc_id, fp FROM f WHERE doc_id >= 250
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id < 50
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id = 300)
            SELECT doc_id FROM (
                SELECT doc_id, fp,
                       ROW_NUMBER() OVER (PARTITION BY fp
                                          ORDER BY doc_id) AS rn
                FROM newb
                WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id < 250)) t
            WHERE rn = 1""",
        "quantiles_per_key": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 6) AS p50,
                   ROUND(quantile_cont(value, 0.95), 6) AS p95
            FROM events GROUP BY event_type""",
        "trending_topk": """
            WITH w AS (
                SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws,
                       event_type FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - INTERVAL '30 minutes' AS ws,
                       event_type FROM events),
            agg AS (SELECT ws, event_type, COUNT(*) AS n
                    FROM w GROUP BY ws, event_type)
            SELECT ws, event_type, n, rank FROM (
                SELECT ws, event_type, n,
                       CAST(ROW_NUMBER() OVER (PARTITION BY ws
                            ORDER BY n DESC, event_type) AS INT) AS rank
                FROM agg) t
            WHERE rank <= 2""",
        "value_histogram": f"""
            SELECT CASE WHEN b < 0 THEN -1 WHEN b >= 20 THEN 20
                        ELSE b END AS bin,
                   COUNT(*) AS n,
                   {_sql_dsum('value', 'sum_value', 4)}
            FROM (SELECT CAST(FLOOR(value / 25) AS INT) AS b, value
                  FROM events) t
            GROUP BY 1""",
        "game_stats_spam": """
            WITH pu AS (SELECT user_id, COUNT(*) AS n_events
                        FROM events GROUP BY user_id),
            m AS (SELECT ROUND(SUM(n_events) / COUNT(*), 6) AS mean FROM pu)
            SELECT user_id, n_events FROM pu, m
            WHERE n_events > 1.15 * mean""",
        "funnel_instances": """
            WITH v AS (SELECT user_id, ts AS view_ts FROM events
                       WHERE event_type = 'view'),
            c AS (
                SELECT user_id, view_ts,
                       (SELECT min(e.ts) FROM events e
                        WHERE e.user_id = v.user_id
                          AND e.event_type = 'click'
                          AND e.ts > v.view_ts
                          AND e.ts <= v.view_ts + INTERVAL 1 DAY)
                           AS click_ts
                FROM v),
            p AS (
                SELECT user_id, view_ts, click_ts,
                       (SELECT min(e.ts) FROM events e
                        WHERE e.user_id = c.user_id
                          AND e.event_type = 'purchase'
                          AND e.ts > c.click_ts
                          AND e.ts <= c.click_ts + INTERVAL 1 DAY)
                           AS purchase_ts
                FROM c WHERE click_ts IS NOT NULL)
            SELECT user_id, view_ts, click_ts, purchase_ts
            FROM p WHERE purchase_ts IS NOT NULL""",
        "epoch_shuffle": """
            WITH k AS (
                SELECT doc_id, md5('0:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
            s AS (
                SELECT doc_id, h,
                       CAST(16*(instr('0123456789abcdef', substr(h,1,1))-1)
                            + (instr('0123456789abcdef', substr(h,2,1))-1)
                            AS INT) AS shard
                FROM k)
            SELECT doc_id, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                        ORDER BY h, doc_id) AS INT) AS pos
            FROM s""",
        # the full corpus-prep composition: quality gate -> lang
        # allowlist -> exact dedup -> near-dup representatives
        # (transitive closure) -> greedy packing, chained from the
        # same CTE fragments the individual oracles use
        "llm_corpus_prep": f"""
            WITH RECURSIVE qual AS MATERIALIZED (
                SELECT doc_id, text, lang, n_chars, ROUND((
                    (CASE WHEN LENGTH(text) >= 50 THEN 1.0 ELSE LENGTH(text) / 50.0 END)
                    + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                            '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                            / NULLIF(LENGTH(text), 0)), 1.0))
                    + LEAST(5 * (len(list_filter({toks}, t -> t IN ('the','of','and','a','to',
                            'in','is','it','that','was','for','on','as','with','at','by','an',
                            'be','this','are','or','not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
                ) / 3.0, 6) AS q
                FROM documents WHERE doc_id % 2 = 0),
            kept AS MATERIALIZED (
                SELECT doc_id, text, n_chars FROM qual
                WHERE q > 0.75 AND lang IN ('en','de','fr','es')),
            uniq AS MATERIALIZED (
                SELECT doc_id, text, n_chars FROM kept
                WHERE doc_id IN (
                    SELECT MIN(doc_id) FROM kept GROUP BY md5({norm_text}))),
            sh AS MATERIALIZED (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM uniq) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS MATERIALIZED (
                SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS MATERIALIZED (
                SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS MATERIALIZED (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
                GROUP BY x.id, y.id),
            pairs AS MATERIALIZED (
                SELECT id_a, id_b FROM inter
                JOIN sizes a ON a.id = id_a
                JOIN sizes b ON b.id = id_b
                WHERE inter * 1.0 / (a.n + b.n - inter) >= 0.5),
            edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
                SELECT doc_id, doc_id FROM uniq
                UNION
                SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node),
            reps AS (
                SELECT node AS doc_id FROM reach
                GROUP BY node HAVING node = MIN(comp)),
            final AS (
                SELECT u.doc_id, u.n_chars FROM uniq u
                JOIN reps USING (doc_id)),
            d2 AS (
                SELECT doc_id, n_chars, CAST(doc_id % 4 AS INT) AS shard,
                       ROW_NUMBER() OVER (PARTITION BY doc_id % 4
                                          ORDER BY doc_id) AS rn
                FROM final),
            pack(shard, rn, doc_id, n_chars, bin, acc) AS (
                SELECT shard, rn, doc_id, n_chars, 0, n_chars
                FROM d2 WHERE rn = 1
                UNION ALL
                SELECT d2.shard, d2.rn, d2.doc_id, d2.n_chars,
                       CASE WHEN p.acc + d2.n_chars > 4000
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.acc + d2.n_chars > 4000
                            THEN d2.n_chars ELSE p.acc + d2.n_chars END
                FROM pack p JOIN d2 ON d2.shard = p.shard AND d2.rn = p.rn + 1)
            SELECT doc_id, shard, CAST(bin AS INT) AS bin,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM pack""",
        # PQ with the fixed codebook (subvectors of vec_id 0..15):
        # encode = per-subspace argmin (ties lowest code), ADC = sum
        # over subspaces of exact query-subvector -> centroid sq dist
        "embed_ivfpq_fixed": """
            WITH cent AS (
                SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 8
            ), cb AS (
                SELECT s, vec_id::INT AS j,
                       embedding[s*8+1 : s*8+8]::DOUBLE[] AS cvec
                FROM embeddings
                CROSS JOIN (SELECT UNNEST(range(8))::INT AS s)
                WHERE vec_id < 16
            ), assign AS (
                SELECT vec_id, cid, cv FROM (
                    SELECT e.vec_id, c.cid, c.cv,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                               ORDER BY list_distance(
                                   e.embedding::DOUBLE[], c.cv),
                                   c.cid) AS rn
                    FROM embeddings e CROSS JOIN cent c) t
                WHERE rn = 1
            ), res AS (
                SELECT a.vec_id, a.cid,
                       list_transform(range(1, 65),
                           i -> e.embedding[i]::DOUBLE - a.cv[i]) AS r
                FROM assign a JOIN embeddings e USING (vec_id)
            ), rsub AS (
                SELECT vec_id, cid, s, r[s*8+1 : s*8+8] AS rvec
                FROM res CROSS JOIN (SELECT UNNEST(range(8))::INT AS s)
            ), enc AS (
                SELECT vec_id, cid, s, j FROM (
                    SELECT rsub.vec_id, rsub.cid, rsub.s, cb.j,
                           ROW_NUMBER() OVER (
                               PARTITION BY rsub.vec_id, rsub.s
                               ORDER BY list_distance(rsub.rvec, cb.cvec),
                                        cb.j) AS rn
                    FROM rsub JOIN cb USING (s)) t
                WHERE rn = 1
            ), qprobe AS (
                SELECT vec_id AS qid, cid, cv FROM (
                    SELECT e.vec_id, c.cid, c.cv,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                               ORDER BY list_distance(
                                   e.embedding::DOUBLE[], c.cv),
                                   c.cid) AS rn
                    FROM embeddings e CROSS JOIN cent c
                    WHERE e.vec_id < 100) t
                WHERE rn <= 2
            ), qrsub AS (
                SELECT qp.qid, qp.cid, sq.s,
                       list_transform(range(sq.s*8+1, sq.s*8+9),
                           i -> e.embedding[i]::DOUBLE - qp.cv[i]) AS rvec
                FROM qprobe qp
                JOIN embeddings e ON e.vec_id = qp.qid
                CROSS JOIN (SELECT UNNEST(range(8))::INT AS s) sq
            ), adc AS (
                SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                       SUM(POW(list_distance(q.rvec, cb.cvec), 2)) AS adc
                FROM qrsub q
                JOIN enc e ON e.cid = q.cid AND e.s = q.s
                JOIN cb ON cb.s = e.s AND cb.j = e.j
                WHERE e.vec_id <> q.qid
                GROUP BY q.qid, e.vec_id
            )
            SELECT query_id, neighbor_id, rank, adc FROM (
                SELECT query_id, neighbor_id, adc,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc, neighbor_id) AS rank
                FROM adc) t
            WHERE rank <= 3""",
        "embed_pq_fixed": """
            WITH sub AS (
                SELECT vec_id, s,
                       embedding[s*8+1 : s*8+8]::DOUBLE[] AS svec
                FROM embeddings
                CROSS JOIN (SELECT UNNEST(range(8))::INT AS s)
            ),
            cb AS (
                SELECT s, vec_id::INT AS j, svec AS cvec
                FROM sub WHERE vec_id < 16
            ),
            enc AS (
                SELECT vec_id, s, j FROM (
                    SELECT sub.vec_id, sub.s, cb.j,
                           ROW_NUMBER() OVER (
                               PARTITION BY sub.vec_id, sub.s
                               ORDER BY list_distance(sub.svec, cb.cvec),
                                        cb.j) AS rn
                    FROM sub JOIN cb USING (s)) t
                WHERE rn = 1
            ),
            adc AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       SUM(POW(list_distance(q.svec, cb.cvec), 2)) AS adc
                FROM sub q
                JOIN enc e ON e.s = q.s
                JOIN cb ON cb.s = e.s AND cb.j = e.j
                WHERE q.vec_id < 100 AND e.vec_id <> q.vec_id
                GROUP BY q.vec_id, e.vec_id
            )
            SELECT query_id, neighbor_id, rank, adc FROM (
                SELECT query_id, neighbor_id, adc,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc, neighbor_id) AS rank
                FROM adc) t
            WHERE rank <= 3""",
        # population covariance, entry by entry: unnest the vectors
        # with 1-based subscripts, self-join on the row id, and apply
        # cov(i,j) = E[x_i x_j] - E[x_i] E[x_j]
        "embed_pca_gram": """
            WITH ex AS (
                SELECT vec_id,
                       generate_subscripts(embedding, 1) AS i,
                       UNNEST(embedding)::DOUBLE AS x
                FROM embeddings),
            n AS (SELECT COUNT(*)::DOUBLE AS c FROM embeddings),
            s AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy
                  FROM ex a JOIN ex b USING (vec_id)
                  GROUP BY a.i, b.i),
            m AS (SELECT i, SUM(x) AS sx FROM ex GROUP BY i)
            SELECT CAST(s.i AS INT) AS i, CAST(s.j AS INT) AS j,
                   s.sxy / n.c - (ma.sx / n.c) * (mb.sx / n.c) AS cov
            FROM s CROSS JOIN n
            JOIN m ma ON ma.i = s.i
            JOIN m mb ON mb.i = s.j""",
        # fixed-basis projection: comp c == the embedding row vec_id=c
        # (0-based ids in the test data), value = (x - mean) . basis_c
        "embed_pca_project": """
            WITH ex AS (
                SELECT vec_id,
                       generate_subscripts(embedding, 1) AS i,
                       UNNEST(embedding)::DOUBLE AS x
                FROM embeddings),
            m AS (SELECT i, AVG(x) AS mu FROM ex GROUP BY i),
            b AS (SELECT vec_id AS comp, i, x AS bx
                  FROM ex WHERE vec_id < 8)
            SELECT e.vec_id,
                   CAST(b.comp AS INT) AS comp,
                   SUM((e.x - m.mu) * b.bx) AS value
            FROM ex e
            JOIN m USING (i)
            JOIN b USING (i)
            GROUP BY e.vec_id, b.comp""",
        # fixed-quantizer assignment: euclidean argmin, ties to the
        # lowest cluster id — list_distance reproduces the gemm path
        "embed_kmeans_fixed": """
            WITH c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 8),
            d AS (
                SELECT e.vec_id, c.cid,
                       list_distance(e.embedding::DOUBLE[], c.cv) AS dist
                FROM embeddings e CROSS JOIN c)
            SELECT vec_id, CAST(cid AS INT) AS cluster
            FROM (SELECT vec_id, cid,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY dist, cid) AS rn
                  FROM d) t
            WHERE rn = 1""",
        # same greedy first-fit recurrence as operators/packing.py,
        # expressed as a per-shard recursive walk in row order
        "pack_sequences": """
            WITH RECURSIVE d AS (
                SELECT doc_id, n_chars,
                       CAST(doc_id % 8 AS INT) AS shard,
                       ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                          ORDER BY doc_id) AS rn
                FROM documents),
            pack(shard, rn, doc_id, n_chars, bin, acc) AS (
                SELECT shard, rn, doc_id, n_chars, 0, n_chars
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.shard, d.rn, d.doc_id, d.n_chars,
                       CASE WHEN p.acc + d.n_chars > 2000
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.acc + d.n_chars > 2000
                            THEN d.n_chars ELSE p.acc + d.n_chars END
                FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
            SELECT doc_id, shard, CAST(bin AS INT) AS bin,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM pack""",
        "user_sessions": """
            WITH e AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM e
            )
            SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
            FROM s GROUP BY user_id, sid""",
        "asof_last_purchase": """
            SELECT l.event_id, l.user_id, l.ts, r.ts AS last_purchase_ts
            FROM events l
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                            WHERE event_type = 'purchase') r
            ON l.user_id = r.user_id AND l.ts >= r.ts""",
        "rollup_daily": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
                   COUNT(*) AS n, MAX(value) AS vmax
            FROM events GROUP BY 1, 2""",
        "range_join_followups": """
            SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
            FROM events p JOIN events e
              ON p.user_id = e.user_id
             AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE
            WHERE p.event_type = 'purchase' AND e.event_type = 'error'""",
        "sum_mean_global": f"""
            SELECT {_sql_dsum('l_quantity', 'total_qty')},
                   {_sql_davg('l_extendedprice', 'mean_price')},
                   COUNT(*) AS n
            FROM lineitem""",
        "latest_global": """
            SELECT event_id, ts, event_type FROM events
            ORDER BY ts DESC, event_id DESC LIMIT 1""",
        "embed_lsh_knn": _lsh_knn_oracle_sql(),
        "embed_ivf_fixed": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
            cent AS (SELECT vec_id AS cid, ev AS cv FROM v WHERE vec_id < 16),
            asn AS (
                SELECT v.vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                           list_dot_product(ev, cv)
                           / (sqrt(list_dot_product(ev, ev))
                              * sqrt(list_dot_product(cv, cv))) DESC, cid) AS r
                FROM v CROSS JOIN cent
            ),
            c AS (SELECT vec_id AS neighbor_id, cid FROM asn WHERE r = 1),
            q AS (SELECT vec_id AS query_id, cid FROM asn
                  WHERE r <= 4 AND vec_id < 100),
            pairs AS (
                SELECT DISTINCT query_id, neighbor_id
                FROM q JOIN c USING (cid) WHERE query_id <> neighbor_id
            ), scored AS (
                SELECT p.query_id, p.neighbor_id,
                       list_dot_product(a.ev, b.ev)
                       / (sqrt(list_dot_product(a.ev, a.ev))
                          * sqrt(list_dot_product(b.ev, b.ev))) AS cos
                FROM pairs p JOIN v a ON a.vec_id = p.query_id
                             JOIN v b ON b.vec_id = p.neighbor_id
            )
            SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS sim FROM (
                SELECT query_id, neighbor_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, neighbor_id) AS rank
                FROM scored) t
            WHERE rank <= 3""",
        "q3_shipping_priority": _Q3_SQL.format(disc=_SQL_DISC_PRICE),
        "q5_local_supplier": _Q5_SQL.format(disc=_SQL_DISC_PRICE),
        "q6_forecast_revenue": _Q6_SQL,
        "q7_volume_shipping": _Q7_SQL.format(disc=_SQL_DISC_PRICE),
        "q8_market_share": _Q8_SQL.format(disc=_SQL_DISC_PRICE),
        "q10_returned_items": _Q10_SQL.format(disc=_SQL_DISC_PRICE),
        "q14_promo_effect": _Q14_SQL.format(disc=_SQL_DISC_PRICE),
        "q17_small_qty": _Q17_SQL,
        "q18_large_volume": _Q18_SQL.format(disc=_SQL_DISC_PRICE),
        "q19_discounted": _Q19_SQL.format(disc=_SQL_DISC_PRICE),
        "q13_customer_distribution": _Q13_SQL,
        "q15_top_supplier": _Q15_SQL.format(disc=_SQL_DISC_PRICE),
        "q22_global_sales": _Q22_SQL,
        "q4_order_priority": _Q4_SQL,
        "q12_shipmode_priority": _Q12_SQL,
        "q2_min_cost_supplier": _Q2_SQL,
        "q9_product_profit": _Q9_SQL,
        "q11_important_stock": _Q11_SQL,
        "q16_parts_suppliers": _Q16_SQL,
        "q20_potential_promotion": _Q20_SQL,
        "q21_waiting_suppliers": _Q21_SQL,
        "source_drift_chisq": f"""
            WITH tk AS (
                SELECT source, unnest({toks}) AS t FROM documents),
            corpus AS (SELECT t, COUNT(*) AS ct FROM tk GROUP BY t),
            top AS (SELECT t, ct FROM corpus ORDER BY ct DESC, t LIMIT 50),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tk),
            st AS (SELECT source, COUNT(*) AS st FROM tk GROUP BY source),
            obs AS (
                SELECT tk.source, tk.t, COUNT(*) AS o
                FROM tk JOIN top ON tk.t = top.t
                GROUP BY tk.source, tk.t),
            cells AS (
                SELECT obs.source, obs.t,
                       (obs.o - (st.st * top.ct / (SELECT n FROM tot)))
                       * (obs.o - (st.st * top.ct / (SELECT n FROM tot)))
                       / (st.st * top.ct / (SELECT n FROM tot)) AS cell
                FROM obs
                JOIN top ON obs.t = top.t
                JOIN st ON obs.source = st.source)
            SELECT source,
                   ROUND(list_reduce(list(cell ORDER BY t),
                                     (a, b) -> a + b), 6) AS chi2
            FROM cells GROUP BY source""",
        "event_paths_top": """
            WITH p AS (
                SELECT event_type AS s1,
                       LEAD(event_type, 1) OVER w AS s2,
                       LEAD(event_type, 2) OVER w AS s3
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            c AS (
                SELECT s1, s2, s3, COUNT(*) AS n FROM p
                WHERE s3 IS NOT NULL GROUP BY s1, s2, s3)
            SELECT s1, s2, s3, n,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY n DESC, s1, s2, s3) AS INT) AS pos
            FROM c ORDER BY n DESC, s1, s2, s3 LIMIT 20""",
        "embed_knn_int8": """
            WITH t AS (
                SELECT vec_id, embedding::DOUBLE[] AS x,
                       list_max(list_transform(embedding::DOUBLE[],
                                               v -> abs(v))) AS am
                FROM embeddings),
            qz AS (
                SELECT vec_id,
                       CASE WHEN am > 0 THEN
                           list_transform(x, v -> CAST(round(
                               v / (am / 127.0)) AS INTEGER))
                       ELSE list_transform(x, v -> 0) END AS qq
                FROM t),
            q AS (SELECT vec_id AS query_id, qq AS qa FROM qz
                  WHERE vec_id < 50),
            c AS (SELECT vec_id AS neighbor_id, qq AS qb FROM qz),
            p AS (
                SELECT query_id, neighbor_id,
                       CAST(list_reduce(list_transform(
                                range(1, len(qa) + 1),
                                i -> CAST(qa[i] AS BIGINT) * qb[i]),
                            (a, b) -> a + b) AS DOUBLE)
                       / (sqrt(CAST(list_reduce(list_transform(qa,
                              v -> CAST(v AS BIGINT) * v),
                              (a, b) -> a + b) AS DOUBLE))
                          * sqrt(CAST(list_reduce(list_transform(qb,
                              v -> CAST(v AS BIGINT) * v),
                              (a, b) -> a + b) AS DOUBLE))) AS sim
                FROM q, c WHERE query_id <> neighbor_id)
            SELECT query_id, neighbor_id, ROUND(sim, 6) AS sim, rank
            FROM (SELECT *, CAST(ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id) AS INT) AS rank
                  FROM p)
            WHERE rank <= 3""",
        "sales_cube": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_qty,
                   COUNT(*) AS n,
                   CAST(GROUPING(l_returnflag) * 2
                        + GROUPING(l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)""",
        "event_type_unpivot": """
            SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
            FROM events
            WHERE event_type IN ('click','error','purchase','signup','view')
            GROUP BY 1, 2""",
        "delta_encode_series": """
            WITH d AS (
                SELECT user_id, event_id, ts,
                       value - COALESCE(LAG(value) OVER w, 0.0) AS d
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id,
                   ROUND(SUM(d) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING), 6)
                       AS value_reconstructed
            FROM d""",
        "regex_kv_pairs": """
            SELECT event_id,
                   regexp_extract(props, '"([a-z]+)": (\\d+)', 1) AS k,
                   CAST(regexp_extract(props, '"([a-z]+)": (\\d+)', 2)
                        AS BIGINT) AS v
            FROM events
            WHERE regexp_matches(props, '"([a-z]+)": (\\d+)')""",
        "media_dedup": """
            WITH planted AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text FROM documents
                WHERE doc_id < 50),
            keepers AS (
                SELECT doc_id FROM (
                    SELECT doc_id, ROW_NUMBER() OVER (
                        PARTITION BY sha256(text) ORDER BY doc_id) AS rn
                    FROM planted)
                WHERE rn = 1)
            SELECT COUNT(*) AS n_kept, SUM(doc_id) AS id_sum
            FROM keepers""",
        "snapshot_diff": f"""
            WITH oldsnap AS (
                SELECT user_id, event_id, ts, value FROM (
                    SELECT user_id, event_id, ts, value,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events
                    WHERE ts < TIMESTAMP '{_CDC_CUTOFF}')
                WHERE rn = 1),
            newsnap AS (
                SELECT user_id, event_id, ts, value FROM (
                    SELECT user_id, event_id, ts, value,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events)
                WHERE rn = 1)
            -- struct-consistent with derive_changes (cdc.py:122): the
            -- engine carries the WHOLE new-side struct for U rows, so
            -- a NULL inside it must stay NULL — branch on row presence
            -- (n.user_id, the join key), never per-column COALESCE
            SELECT COALESCE(n.user_id, o.user_id) AS user_id,
                   CASE WHEN n.user_id IS NULL THEN o.event_id
                        ELSE n.event_id END AS event_id,
                   CASE WHEN n.user_id IS NULL THEN o.ts
                        ELSE n.ts END AS ts,
                   CASE WHEN n.user_id IS NULL THEN o.value
                        ELSE n.value END AS value,
                   CASE WHEN o.user_id IS NULL THEN 'I'
                        WHEN n.user_id IS NULL THEN 'D'
                        ELSE 'U' END AS op
            FROM oldsnap o
            FULL OUTER JOIN newsnap n ON o.user_id = n.user_id
            WHERE o.user_id IS NULL OR n.user_id IS NULL
               OR (o.event_id, o.ts, o.value) IS DISTINCT FROM
                  (n.event_id, n.ts, n.value)""",
        "embed_quantize_int8": """
            WITH t AS (
                SELECT vec_id, embedding::DOUBLE[] AS x,
                       list_max(list_transform(embedding::DOUBLE[],
                                               v -> abs(v))) AS am
                FROM embeddings),
            q AS (
                SELECT vec_id, x, am / 127.0 AS scale,
                       CASE WHEN am > 0 THEN
                           list_transform(x, v -> CAST(round(
                               v / (am / 127.0)) AS INTEGER))
                       ELSE list_transform(x, v -> 0) END AS qq
                FROM t)
            SELECT vec_id, ROUND(scale, 6) AS scale,
                   CAST(list_sum(qq) AS BIGINT) AS q_sum,
                   CAST(list_min(qq) AS INTEGER) AS q_min,
                   CAST(list_max(qq) AS INTEGER) AS q_max,
                   ROUND(list_max(list_transform(range(1, len(x) + 1),
                         i -> abs(x[i] - qq[i] * scale))), 6)
                       AS max_abs_err
            FROM q""",
        "hybrid_search_rrf": f"""
            WITH dl AS (
                SELECT doc_id, CAST(len({toks}) AS DOUBLE) AS dl
                FROM documents),
            stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS N, AVG(dl) AS avgdl
                FROM dl),
            tf AS (
                SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
                WHERE term IN ('filter', 'join', 'spark')
                GROUP BY doc_id, term),
            dfreq AS (
                SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                FROM tf GROUP BY term),
            bm25s AS (
                SELECT tf.doc_id,
                       SUM(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))
                           * tf * 2.2
                           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS raw
                FROM tf
                JOIN dfreq USING (term)
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN stats
                GROUP BY tf.doc_id),
            r1 AS (
                SELECT doc_id, rank FROM (
                    SELECT doc_id,
                           ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id)
                               AS rank
                    FROM bm25s)
                WHERE rank <= 100),
            qscore AS (
                SELECT doc_id, ROUND((
                    (CASE WHEN LENGTH(text) >= 50 THEN 1.0
                          ELSE LENGTH(text) / 50.0 END)
                    + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                            '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                            / NULLIF(LENGTH(text), 0)), 1.0))
                    + LEAST(5 * (len(list_filter({toks},
                            t -> t IN ('the','of','and','a','to','in','is',
                            'it','that','was','for','on','as','with','at',
                            'by','an','be','this','are','or','not'))) * 1.0
                            / NULLIF(len({toks}), 0)), 1.0)
                ) / 3.0, 6) AS q
                FROM documents),
            r2 AS (
                SELECT doc_id, rank FROM (
                    SELECT doc_id,
                           ROW_NUMBER() OVER (ORDER BY q DESC, doc_id)
                               AS rank
                    FROM qscore)
                WHERE rank <= 100),
            u AS (
                SELECT doc_id, 1.0 / (60 + rank) AS r FROM r1
                UNION ALL
                SELECT doc_id, 1.0 / (60 + rank) AS r FROM r2),
            fused AS (
                SELECT doc_id, SUM(r) AS raw FROM u GROUP BY doc_id)
            SELECT doc_id, ROUND(raw, 6) AS rrf_score,
                   CAST(ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id)
                        AS INT) AS fused_rank
            FROM fused
            ORDER BY raw DESC, doc_id LIMIT 20""",
        "weighted_sample_docs": """
            SELECT doc_id, n_chars AS weight,
                   ROUND(ln((CAST(('0x' || substring(md5('ws1:' ||
                             CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                             + 1) / 4294967296.0)
                         / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 6)
                       AS sample_key
            FROM documents
            ORDER BY ln((CAST(('0x' || substring(md5('ws1:' ||
                        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 1) / 4294967296.0)
                     / GREATEST(CAST(n_chars AS DOUBLE), 1.0) DESC,
                     doc_id
            LIMIT 100""",
        "url_domain_stats": """
            WITH t AS (
                SELECT text || ' see https://site' ||
                       CAST(doc_id % 20 AS VARCHAR) || '.example/p/' ||
                       CAST(doc_id AS VARCHAR) || ' and http://ref' ||
                       CAST(doc_id % 7 AS VARCHAR) || '.example/x' AS t2
                FROM documents),
            u AS (
                SELECT unnest(regexp_extract_all(t2, 'https?://[^ ]+'))
                    AS url
                FROM t)
            SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
                   COUNT(*) AS n
            FROM u GROUP BY 1""",
        "unicode_nfc_stats": """
            SELECT doc_id,
                   length(replace(text, 'a', 'a' || chr(769)))
                       AS len_decomposed,
                   length(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
                       AS len_nfc,
                   md5(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
                       AS nfc_md5
            FROM documents""",
        "mad_outliers": """
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY event_type),
            dev AS (
                SELECT e.event_type, e.value, med.med,
                       abs(e.value - med.med) AS absdev
                FROM events e JOIN med USING (event_type)),
            mad AS (
                SELECT event_type, ANY_VALUE(med) AS med,
                       quantile_cont(absdev, 0.5) AS mad
                FROM dev GROUP BY event_type)
            SELECT d.event_type, COUNT(*) AS n,
                   SUM(CASE WHEN d.absdev > 3 * 1.4826 * m.mad
                       THEN 1 ELSE 0 END) AS n_outliers,
                   ROUND(ANY_VALUE(m.med), 6) AS med,
                   ROUND(ANY_VALUE(m.mad), 6) AS mad
            FROM dev d JOIN mad m USING (event_type)
            GROUP BY d.event_type""",
        "rollup_incremental": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
                   COUNT(*) AS n, MAX(value) AS vmax
            FROM events GROUP BY 1, 2""",
        "textrank_words": _textrank_oracle_sql().replace("{toks}", toks),
        "char_entropy_quality": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_extract_all(text, '[\s\S]') AS chars
                FROM documents),
            u AS (
                SELECT doc_id, chars,
                       CAST(len(chars) AS DOUBLE) AS n,
                       list_sort(list_distinct(chars)) AS uniq
                FROM t)
            SELECT doc_id,
                   CASE WHEN n > 0 THEN ROUND(
                       -list_reduce(
                           list_transform(uniq, c ->
                               (CAST(len(list_filter(chars, x -> x = c))
                                     AS DOUBLE) / n)
                               * log2(CAST(len(list_filter(chars, x -> x = c))
                                           AS DOUBLE) / n)),
                           (a, b) -> a + b), 6)
                   END AS entropy_bits
            FROM u""",
        "attribution_last_touch": """
            WITH purchases AS (
                SELECT user_id, event_id AS purchase_id, ts,
                       value AS amount
                FROM events WHERE event_type = 'purchase'),
            touches AS (
                SELECT user_id, ts AS touch_ts, event_id AS touch_id,
                       event_type AS touch_type
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY user_id, ts
                          ORDER BY event_id DESC) AS rn
                      FROM events
                      WHERE event_type IN ('view', 'click'))
                WHERE rn = 1)
            SELECT p.user_id, p.purchase_id, p.amount,
                   CASE WHEN t.touch_ts >= p.ts - INTERVAL 24 HOURS
                        THEN t.touch_id END AS touch_id,
                   CASE WHEN t.touch_ts >= p.ts - INTERVAL 24 HOURS
                        THEN t.touch_type END AS touch_type
            FROM purchases p
            ASOF LEFT JOIN touches t
              ON p.user_id = t.user_id AND p.ts >= t.touch_ts""",
        "ab_test_report": """
            WITH d AS (
                SELECT event_type,
                       CASE WHEN substring(md5('ab1:' || CAST(user_id AS
                            VARCHAR)), 1, 1) < '8' THEN 0 ELSE 1 END AS arm,
                       CAST(value AS DECIMAL(18,2)) AS v
                FROM events),
            g AS (
                SELECT event_type,
                       SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                       SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                       SUM(CASE WHEN arm = 0 THEN v
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_a,
                       SUM(CASE WHEN arm = 1 THEN v
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_b,
                       SUM(CASE WHEN arm = 0 THEN CAST(v * v AS DECIMAL(38,4))
                           ELSE CAST(0 AS DECIMAL(38,4)) END) AS ss_a,
                       SUM(CASE WHEN arm = 1 THEN CAST(v * v AS DECIMAL(38,4))
                           ELSE CAST(0 AS DECIMAL(38,4)) END) AS ss_b
                FROM d GROUP BY event_type)
            SELECT event_type, n_a, n_b,
                   ROUND(CAST(s_a AS DOUBLE) / n_a, 6) AS mean_a,
                   ROUND(CAST(s_b AS DOUBLE) / n_b, 6) AS mean_b,
                   ROUND(((CAST(s_b AS DOUBLE) / n_b)
                          - (CAST(s_a AS DOUBLE) / n_a))
                         / sqrt(((CAST(ss_a AS DOUBLE) / n_a)
                                 - (CAST(s_a AS DOUBLE) / n_a)
                                   * (CAST(s_a AS DOUBLE) / n_a)) / n_a
                                + ((CAST(ss_b AS DOUBLE) / n_b)
                                   - (CAST(s_b AS DOUBLE) / n_b)
                                     * (CAST(s_b AS DOUBLE) / n_b)) / n_b),
                         6) AS z_score
            FROM g""",
        "readability_scores": f"""
            SELECT doc_id,
                   CAST(len({toks}) AS INT) AS n_words,
                   CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')),
                                 1) AS INT) AS n_sentences,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS INT) AS n_syllables,
                   CASE WHEN len({toks}) > 0 THEN ROUND(
                       206.835
                       - 1.015 * (CAST(len({toks}) AS DOUBLE)
                           / GREATEST(len(regexp_extract_all(text,
                                                             '[.!?]+')), 1))
                       - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                                     '[aeiouy]+')) AS DOUBLE)
                           / len({toks})), 6)
                   END AS flesch
            FROM documents""",
        "rate_limit_events": """
            SELECT * FROM (
                SELECT CAST(user_id AS VARCHAR) AS user_id, event_id,
                       epoch_ms(ts) AS ts_ms,
                       epoch_ms(ts) // 3600000 * 3600000 AS win_start_ms,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY user_id,
                                        epoch_ms(ts) // 3600000 * 3600000
                           ORDER BY epoch_ms(ts), event_id) AS INT) AS seq
                FROM events)
            WHERE seq <= 3""",
        "dedup_keep_best": f"""
            WITH planted AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' !!! ??? !!!'
                FROM documents WHERE doc_id < 50),
            scored AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(
                           regexp_replace(text, ' !!! \\?\\?\\? !!!$', ''))),
                           '\\s+', ' ', 'g')) AS fp,
                       ROUND((
                           (CASE WHEN LENGTH(text) >= 50 THEN 1.0
                                 ELSE LENGTH(text) / 50.0 END)
                           + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                                   '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                                   / NULLIF(LENGTH(text), 0)), 1.0))
                           + LEAST(5 * (len(list_filter({toks},
                                   t -> t IN ('the','of','and','a','to','in',
                                   'is','it','that','was','for','on','as',
                                   'with','at','by','an','be','this','are',
                                   'or','not'))) * 1.0
                                   / NULLIF(len({toks}), 0)), 1.0)
                       ) / 3.0, 6) AS q
                FROM planted)
            SELECT doc_id AS kept_id, n_copies FROM (
                SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp
                           ORDER BY q DESC, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY fp) AS n_copies
                FROM scored)
            WHERE rn = 1""",
        "dq_report": """
            SELECT 'orderkey_not_null' AS rule, 'not_null' AS kind,
                   CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM lineitem
            UNION ALL
            SELECT 'quantity_1_30', 'range',
                   CAST(SUM(CASE WHEN l_quantity IS NOT NULL
                            AND NOT (l_quantity BETWEEN 1 AND 30)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'returnflag_domain', 'isin',
                   CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                            AND l_returnflag NOT IN ('A','N','R')
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'discount_le_tax_plus_half', 'custom',
                   CAST(SUM(CASE WHEN NOT COALESCE(
                            l_discount <= l_tax + 0.5, FALSE)
                            THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'linenumber_unique_per_order_NOT', 'unique',
                   CAST(COALESCE(SUM(n), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM lineitem
                  GROUP BY l_orderkey HAVING COUNT(*) > 1)
            UNION ALL
            SELECT 'orderkey_in_orders', 'foreign_key',
                   CAST(COUNT(*) AS BIGINT)
            FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)""",
        "wav_roundtrip": """
            SELECT doc_id, 8000 AS sample_rate,
                   CAST(n_chars AS BIGINT) AS num_samples,
                   CAST(CASE WHEN n_chars = 0 THEN 0 ELSE
                       list_max(list_transform(range(0, n_chars),
                           i -> abs((doc_id * 31 + i) * 2654435761
                                    % 65536 - 32768)))
                   END AS BIGINT) AS peak_abs
            FROM documents""",
        "audio_resample": """
            SELECT doc_id, 2000 AS sample_rate,
                   CAST(CASE WHEN n_chars = 0 THEN 0
                        ELSE (n_chars - 1) // 4 + 1 END AS BIGINT)
                       AS num_samples,
                   CAST(CASE WHEN n_chars = 0 THEN 0 ELSE
                       list_max(list_transform(range(0, n_chars, 4),
                           i -> abs((doc_id * 31 + i) * 2654435761
                                    % 65536 - 32768)))
                   END AS BIGINT) AS peak_abs
            FROM documents""",
        "audio_features": """
            WITH x AS (
                SELECT doc_id, i,
                       (doc_id * 31 + i) * 2654435761 % 65536 - 32768 AS v
                FROM (SELECT doc_id, unnest(range(0, n_chars)) AS i
                      FROM documents)),
            zc AS (
                SELECT doc_id,
                       SUM(CASE WHEN prev IS NOT NULL
                                 AND ((prev >= 0) <> (v >= 0))
                                THEN 1 ELSE 0 END) AS z
                FROM (SELECT doc_id, v,
                             LAG(v) OVER (PARTITION BY doc_id
                                          ORDER BY i) AS prev
                      FROM x)
                GROUP BY doc_id),
            f AS (
                SELECT doc_id, i // 64 AS fr, SUM(v * v) AS fe,
                       MAX(ABS(v)) AS fm
                FROM x GROUP BY doc_id, i // 64),
            agg AS (
                SELECT doc_id, COUNT(*) AS n_frames,
                       SUM(fe) AS total_energy,
                       MAX(fe) AS max_frame_energy,
                       SUM(CASE WHEN fm < 512 THEN 1 ELSE 0 END)
                           AS silent_frames
                FROM f GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(a.n_frames, 0) AS INT) AS n_frames,
                   CAST(COALESCE(z.z, 0) AS BIGINT) AS zero_crossings,
                   CAST(COALESCE(a.total_energy, 0) AS BIGINT)
                       AS total_energy,
                   CAST(COALESCE(a.max_frame_energy, 0) AS BIGINT)
                       AS max_frame_energy,
                   CAST(COALESCE(a.silent_frames, 0) AS INT)
                       AS silent_frames
            FROM documents d
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN zc z USING (doc_id)""",
        "video_mjpeg_roundtrip": """
            WITH d AS (
                SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
                       2 + doc_id % 3 AS nf
                FROM documents WHERE doc_id % 17 = 5),
            f AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS fi
                  FROM d)
            SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   1 AS channels, 10.0 AS fps,
                   CAST(w * h * LEAST(GREATEST(
                       2 * FLOOR((((doc_id * 7 + fi * 37) % 256) - 128)
                                 / 2.0 + 0.5) + 128,
                       0), 255) AS BIGINT) AS pixel_sum
            FROM f""",
        "image_dhash_dedup": """
            WITH d AS (
                SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
                FROM documents),
            g AS (
                SELECT doc_id,
                       list_transform(range(0, 72), j ->
                           (((doc_id*7 + ((((j//9)*h//8)*w
                                           + ((j%9)*w//9))*3)*13) % 256)
                            + ((doc_id*7 + ((((j//9)*h//8)*w
                                             + ((j%9)*w//9))*3 + 1)*13)
                               % 256)
                            + ((doc_id*7 + ((((j//9)*h//8)*w
                                             + ((j%9)*w//9))*3 + 2)*13)
                               % 256)) // 3) AS grid
                FROM d),
            b AS (
                SELECT doc_id,
                       array_to_string(list_transform(range(0, 64), i ->
                           CASE WHEN grid[(i//8)*9 + (i%8) + 1]
                                     > grid[(i//8)*9 + (i%8) + 2]
                                THEN '1' ELSE '0' END), '') AS dhash
                FROM g)
            SELECT doc_id, dhash,
                   MIN(doc_id) OVER (PARTITION BY dhash) AS cluster_id
            FROM b""",
        "image_near_dup": """
            WITH d AS (
                SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
                FROM documents),
            g AS (
                SELECT doc_id,
                       list_transform(range(0, 72), j ->
                           (((doc_id*7 + ((((j//9)*h//8)*w
                                           + ((j%9)*w//9))*3)*13) % 256)
                            + ((doc_id*7 + ((((j//9)*h//8)*w
                                             + ((j%9)*w//9))*3 + 1)*13)
                               % 256)
                            + ((doc_id*7 + ((((j//9)*h//8)*w
                                             + ((j%9)*w//9))*3 + 2)*13)
                               % 256)) // 3) AS grid
                FROM d),
            b AS (
                SELECT doc_id,
                       list_transform(range(0, 64), i ->
                           CASE WHEN grid[(i//8)*9 + (i%8) + 1]
                                     > grid[(i//8)*9 + (i%8) + 2]
                                THEN 1 ELSE 0 END) AS bits
                FROM g)
            SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                       list_sum(list_transform(range(1, 65), i ->
                           CASE WHEN x.bits[i] <> y.bits[i]
                                THEN 1 ELSE 0 END)) AS hamming
                FROM b x JOIN b y ON x.doc_id < y.doc_id)
            WHERE hamming <= 4""",
        "png_roundtrip": """
            SELECT doc_id,
                   CAST(4 + doc_id % 5 AS INT) AS width,
                   CAST(3 + doc_id % 4 AS INT) AS height,
                   3 AS channels,
                   CAST(list_sum(list_transform(
                       range(0, (4 + doc_id % 5) * (3 + doc_id % 4) * 3),
                       k -> (doc_id * 7 + k * 13) % 256)) AS BIGINT)
                       AS pixel_sum
            FROM documents""",
        "jpeg_roundtrip": """
            SELECT doc_id,
                   CAST(4 + doc_id % 5 AS INT) AS width,
                   CAST(3 + doc_id % 4 AS INT) AS height,
                   1 AS channels,
                   CAST((4 + doc_id % 5) * (3 + doc_id % 4) *
                        LEAST(GREATEST(
                            2 * FLOOR(((doc_id * 7) % 256 - 128) / 2.0
                                      + 0.5) + 128,
                            0), 255) AS BIGINT) AS pixel_sum
            FROM documents""",
        "jpeg_progressive_roundtrip": """
            SELECT doc_id,
                   CAST(4 + doc_id % 5 AS INT) AS width,
                   CAST(3 + doc_id % 4 AS INT) AS height,
                   1 AS channels,
                   CAST((4 + doc_id % 5) * (3 + doc_id % 4) *
                        LEAST(GREATEST(
                            2 * FLOOR(((doc_id * 7) % 256 - 128) / 2.0
                                      + 0.5) + 128,
                            0), 255) AS BIGINT) AS pixel_sum
            FROM documents""",
        "rag_chunks": f"""
            WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
            s AS (
                SELECT doc_id, tk,
                       GREATEST(CAST(ceil((len(tk) - 10) / 20.0) AS BIGINT),
                                1) AS nc
                FROM t),
            e AS (
                SELECT doc_id, tk, unnest(range(0, nc)) AS ci FROM s)
            SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                   array_to_string(tk[ci*20+1 : ci*20+30], ' ') AS chunk_text,
                   CAST(len(tk[ci*20+1 : ci*20+30]) AS INT) AS n_words
            FROM e
            WHERE len(tk[ci*20+1 : ci*20+30]) >= 1""",
        "dau_mau_stickiness": """
            WITH ud AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
            dau AS (
                SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
            contrib AS (
                SELECT DISTINCT user_id,
                       CAST(day + INTERVAL (off) DAY AS DATE) AS day
                FROM ud, (SELECT unnest(range(0, 30)) AS off)),
            mau AS (
                SELECT day, COUNT(*) AS mau FROM contrib GROUP BY day)
            SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, mau.mau,
                   ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
            FROM dau JOIN mau ON dau.day = mau.day""",
        "zorder_curve": _zorder_oracle_sql(),
        "bm25_search": f"""
            WITH dl AS (
                SELECT doc_id, CAST(len({toks}) AS DOUBLE) AS dl
                FROM documents),
            stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS N, AVG(dl) AS avgdl
                FROM dl),
            tf AS (
                SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
                WHERE term IN ('filter', 'join', 'spark')
                GROUP BY doc_id, term),
            dfreq AS (
                SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                FROM tf GROUP BY term),
            scored AS (
                SELECT tf.doc_id,
                       SUM(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))
                           * tf * 2.2
                           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS raw
                FROM tf
                JOIN dfreq USING (term)
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN stats
                GROUP BY tf.doc_id)
            SELECT doc_id, ROUND(raw, 6) AS score, rank FROM (
                SELECT doc_id, raw,
                       CAST(ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id)
                            AS INT) AS rank
                FROM scored)
            WHERE rank <= 20""",
        "cdc_upsert_snapshot": f"""
            WITH base AS (
                SELECT user_id, event_id, ts, value FROM (
                    SELECT user_id, event_id, ts, value,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events
                    WHERE ts < TIMESTAMP '{_CDC_CUTOFF}')
                WHERE rn = 1),
            latest AS (
                SELECT user_id, event_id, ts, value, op FROM (
                    SELECT user_id, event_id, ts, value,
                           CASE WHEN event_type = 'error' THEN 'D'
                                ELSE 'U' END AS op,
                           ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events
                    WHERE ts >= TIMESTAMP '{_CDC_CUTOFF}')
                WHERE rn = 1)
            SELECT b.user_id, b.event_id, b.ts, b.value FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM latest l
                              WHERE l.user_id = b.user_id)
            UNION ALL
            SELECT user_id, event_id, ts, value FROM latest
            WHERE op <> 'D'""",
        "scd2_user_history": """
            SELECT user_id, event_id, ts, value,
                   ts AS valid_from,
                   LEAD(ts) OVER w AS valid_to,
                   LEAD(ts) OVER w IS NULL AS is_current
            FROM events WHERE event_type = 'purchase'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "mixture_temperature": f"""
            WITH t AS (
                SELECT doc_id, source,
                       CAST(len({toks}) AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
            src AS (
                SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS tt
                FROM t GROUP BY source),
            b AS (
                SELECT source,
                       CAST(trunc(30000 * sqrt(tt)
                            / (SELECT SUM(sqrt(tt) ORDER BY source)
                               FROM src)) AS BIGINT) AS budget
                FROM src),
            c AS (
                SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
            SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
            FROM c JOIN b USING (source)
            WHERE cum_tokens <= budget""",
        "proto_roundtrip": """
            SELECT event_id, user_id, event_type, value FROM events
        """,
        "hadoop_sequence_file": """
            SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
        """,
        "pubsub_timestamps": """
            SELECT event_id, epoch_ms(ts) AS ets_ms FROM events
        """,
    }
    # per-stage attrition: reuse the llm_corpus_prep CTE chain, swap
    # the final projection for scalar-subquery stage counts
    final_select = out["llm_corpus_prep"][out["llm_corpus_prep"].rindex(
        "SELECT doc_id, shard"):]
    out["corpus_prep_stats"] = out["llm_corpus_prep"].replace(
        final_select,
        """SELECT (SELECT COUNT(*) FROM documents
                    WHERE doc_id % 2 = 0) AS n_docs,
                   (SELECT COUNT(*) FROM kept) AS n_kept,
                   (SELECT COUNT(*) FROM uniq) AS n_uniq,
                   (SELECT COUNT(*) FROM reps) AS n_reps,
                   (SELECT COUNT(DISTINCT (shard, bin)) FROM pack) AS n_bins""")
    # the PRODUCTION tokenizer encode paths (broadcast merge-rank /
    # broadcast piece table) are pinned equal to the Column paths on
    # the demo vocabularies, so they answer to the SAME oracles —
    # sharing the string keeps the two contracts from drifting
    out["bpe_rank_token_counts"] = out["bpe_token_counts"]
    out["unigram_token_counts_bc"] = out["unigram_token_counts"]
    out["wordpiece_token_counts_bc"] = out["wordpiece_token_counts"]
    # PNG is lossless sequential or Adam7-interlaced, and GIF is
    # lossless on palette content: same pixels, same oracle.  The
    # HEADLINE codec entries run the doc_id % 11 == 3 subset (VERDICT
    # r8 item 5 — see _image_roundtrip's `every`), so their oracles
    # carry the same filter.
    out["png_adam7_roundtrip"] = (out["png_roundtrip"]
                                  + "\n            WHERE doc_id % 11 = 3")
    out["gif_roundtrip"] = out["png_adam7_roundtrip"]
    out["tiff_roundtrip"] = out["png_adam7_roundtrip"]
    # FLAC is lossless over the same sample formula as WAV; the query
    # runs the doc_id % 11 == 3 codec subset
    out["flac_roundtrip"] = (out["wav_roundtrip"]
                             + "\n            WHERE doc_id % 11 = 3")
    # LPC twin: tonal fixture (sines are libm-dependent, so only the
    # SQL-exact outputs are oracled — count/rate plus the planted
    # x[0]=32000 peak witness; sample exactness rides the in-codec
    # MD5/CRC verification, which raises on any mis-decode)
    out["flac_lpc_roundtrip"] = """
            SELECT doc_id, 8000 AS sample_rate,
                   CAST(n_chars AS BIGINT) AS num_samples,
                   CAST(CASE WHEN n_chars = 0 THEN 0 ELSE 32000 END
                        AS BIGINT) AS peak_abs
            FROM documents
            WHERE doc_id % 11 = 3"""
    # lossless JPEG returns the exact input pixels: same oracle as the
    # lossless image codecs, not the baseline-JPEG closed form
    out["jpeg_lossless_roundtrip"] = out["png_adam7_roundtrip"]
    out["jpeg_progressive_roundtrip"] = (
        out["jpeg_progressive_roundtrip"]
        + "\n            WHERE doc_id % 11 = 3")
    # the QM-coder rides over the same quantized coefficients, so the
    # arithmetic roundtrip answers to the identical closed form
    out["jpeg_arith_roundtrip"] = out["jpeg_progressive_roundtrip"]
    # DSIR selection = the scores CTE + a deterministic top-10% rank
    out["dsir_select_top"] = (
        "WITH scores AS (" + out["dsir_scores"] + ")\n"
        "SELECT doc_id, dsir_score FROM scores\n"
        "QUALIFY row_number() OVER (ORDER BY dsir_score DESC, doc_id)\n"
        "  <= greatest(1, CAST(floor("
        "(SELECT count(*) FROM documents) * 0.1) AS BIGINT))")
    return out
