"""Plan-quality tests: the scale contract, asserted.

Correctness says the query returns the right rows; these tests say the
PLAN is the one that survives 100 TB — filters pushed into the scan,
columns pruned, small dims broadcast, no gratuitous shuffles.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from apache_beam_spark.plans import (
    broadcast_join_count,
    pushed_filters,
    scan_columns,
    shuffle_count,
    wholestage_codegen_ids,
)

SF = "/root/testdata/sf0.001"
Q = entrymod.queries()


def test_filter_pushdown_reaches_scan(spark):
    df = Q["filter_orders"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "o_totalprice" in pushed and "o_orderstatus" in pushed


def test_column_pruning(spark):
    df = Q["elementwise_project"](spark, SF)
    (cols,) = scan_columns(df)
    # lineitem has 16 columns; this projection needs exactly 5
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity",
                         "l_extendedprice", "l_discount"}


def test_q1_single_shuffle(spark):
    """Partial (map-side) aggregation means ONE shuffle carrying only
    (group key, accumulator) pairs — the combiner lifting the reference
    implemented by hand (MultiStepCombine.java:63) is free in Spark."""
    df = Q["q1_pricing_summary"](spark, SF)
    assert shuffle_count(df) == 1
    assert wholestage_codegen_ids(df)


def test_star_join_broadcasts_small_dims(spark):
    """region/nation/customer are tiny vs lineitem/orders: every dim
    join must be broadcast, never a shuffled sort-merge."""
    df = Q["star_join_revenue"](spark, SF)
    assert broadcast_join_count(df) >= 2


def test_wordcount_two_shuffles_max(spark):
    # explode + count: one shuffle for the final aggregation (plus AQE
    # may add a coalesce read, not a shuffle)
    df = Q["wordcount"](spark, SF)
    assert shuffle_count(df) <= 1


def test_dedup_exact_shuffles_ids_not_text(spark):
    """The dedup shuffle must carry (fingerprint, id) — never document
    payloads.  ReadSchema on the scan feeding the aggregation proves
    column pruning kept text out of the exchanged columns."""
    df = Q["dedup_exact"](spark, SF)
    assert shuffle_count(df) <= 2  # fp-groupBy; survivor join broadcasts
    assert broadcast_join_count(df) >= 1


def test_media_metadata_no_python_stage(spark):
    from apache_beam_spark.plans import plan_string

    df = Q["media_metadata"](spark, SF)
    assert "Python" not in plan_string(df)


def test_cache_candidates_detects_shared_subtree(spark):
    from apache_beam_spark.plans import cache_candidates

    base = spark.read.parquet(f"{SF}/orders.parquet").filter("o_totalprice > 1000")
    agg = base.groupBy("o_orderstatus").count()
    proj = base.select("o_orderkey")
    other = spark.read.parquet(f"{SF}/region.parquet")

    got = cache_candidates(base, agg, proj, other)
    # base is consumed by both agg and proj -> candidate; the others
    # appear in no other plan
    assert got == [base]


def test_time_series_ops_plan_shapes(spark):
    """The time-series trio stays shuffle-light: asof = union + one
    keyed window shuffle; range join = equi-join (broadcast or single
    hash shuffle), never a nested loop; rollup = one shuffle per level
    (level-2 input is already tiny)."""
    from apache_beam_spark.plans import plan_string

    asof = Q["asof_last_purchase"](spark, SF)
    assert shuffle_count(asof) <= 2
    rj = Q["range_join_followups"](spark, SF)
    assert "BroadcastNestedLoopJoin" not in plan_string(rj)
    assert "CartesianProduct" not in plan_string(rj)
    assert shuffle_count(rj) <= 2
    ru = Q["rollup_daily"](spark, SF)
    assert shuffle_count(ru) == 2  # one per cascade level


def test_tpch_passthrough_plan_shapes(spark):
    """The SQL-passthrough TPC-H queries get sane distributed plans
    straight from Catalyst: dims broadcast in Q5/Q10, Q14's two-table
    join has at most the agg shuffle + any join shuffles, and no query
    degenerates to a cartesian product."""
    from apache_beam_spark.plans import plan_string

    for name in ("q5_local_supplier", "q10_returned_items",
                 "q14_promo_effect", "q18_large_volume"):
        plan = plan_string(Q[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # Q5: nation/region/supplier/customer are all tiny vs lineitem
    assert broadcast_join_count(Q["q5_local_supplier"](spark, SF)) >= 3
    # Q6-style pushdown also reaches Q14's lineitem scan
    pushed = " ".join(pushed_filters(Q["q14_promo_effect"](spark, SF)))
    assert "l_shipdate" in pushed


def test_new_tpch_plan_shapes(spark):
    """Q13/Q15/Q22: no cartesian products; Q13's left join keeps the
    orderpriority filter pushed into the orders scan side."""
    from apache_beam_spark.plans import plan_string

    for name in ("q13_customer_distribution", "q15_top_supplier",
                 "q22_global_sales"):
        plan = plan_string(Q[name](spark, SF))
        assert "CartesianProduct" not in plan, name
    pushed = " ".join(pushed_filters(Q["q13_customer_distribution"](spark, SF)))
    assert "o_orderpriority" in pushed


def test_dup_clusters_no_cartesian(spark):
    """Connected components = joins + aggs only; candidate generation
    stays on the prefix inverted index (no all-pairs comparisons)."""
    from apache_beam_spark.plans import plan_string

    plan = plan_string(Q["dup_clusters"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_collocations_joins_stay_equi(spark):
    """PMI totals ride broadcast 1-row aggregates; the unigram joins
    are equi-joins (hash or broadcast), never nested-loop over data."""
    from apache_beam_spark.plans import plan_string

    plan = plan_string(Q["collocations_pmi"](spark, SF))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the two 1-row total
    # cross-joins (broadcast of a single aggregate row); formatted
    # plans print every node twice (tree + details), so count node ids
    import re

    bnlj = set(re.findall(r"\((\d+)\)\s+BroadcastNestedLoopJoin", plan))
    assert len(bnlj) <= 2


def test_pack_sequences_single_shuffle(spark):
    """Packing shuffles once (by shard) then works partition-local."""
    df = Q["pack_sequences"](spark, SF)
    assert shuffle_count(df) == 1


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must reach the corpus via broadcast (the
    corpus side never shuffles its grams), and the only hash exchange
    on the corpus path is the per-doc count."""
    df = Q["decontaminate_benchmark"](spark, SF)
    assert broadcast_join_count(df) >= 1
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dedup_two_shuffles(spark):
    """keep-first window (chunk key) + doc rebuild (doc_id key) —
    nothing else may shuffle."""
    df = Q["chunk_dedup"](spark, SF)
    assert shuffle_count(df) == 2


def test_semantic_dedup_no_cross_join(spark):
    """Pair mining must stay within quantizer cells (equi-join on the
    cell id) — no cartesian/broadcast-nested-loop anywhere."""
    df = Q["semantic_dedup"](spark, SF)
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trending_single_shuffle_plus_window(spark):
    """Windowed count then per-window rank: the rank window reuses the
    aggregate's hash partitioning where possible — at most 2 exchanges."""
    df = Q["trending_topk"](spark, SF)
    assert shuffle_count(df) <= 2


def test_feature_store_single_shuffle(spark):
    """Three window families (range 1h, preceding-rows as-of, running
    session max) share (user_id, ts) partitioning+sort: the whole
    feature table must plan as ONE exchange."""
    df = Q["feature_store_events"](spark, SF)
    assert shuffle_count(df) == 1


def test_rfm_and_zscore_broadcast_stats(spark):
    """The tiny stats sides (per-type mean/std, corpus max date) must
    broadcast — never a shuffled sort-merge against the fact side.
    (The single-row anchor legitimately plans as a broadcast
    nested-loop: a 1-row cross join, not a scale risk.)"""
    assert broadcast_join_count(Q["value_zscore_outliers"](spark, SF)) >= 1
    plan = Q["rfm_segments"](spark, SF)._jdf.queryExecution().toString()
    assert "Broadcast" in plan and "SortMergeJoin" not in plan


def test_split_zero_shuffles(spark):
    df = Q["train_val_test_split"](spark, SF)
    assert shuffle_count(df) == 0


def test_lsh_knn_bucket_join_no_cartesian(spark):
    """lsh_topk's candidate generation is an equi-join on the bucket id
    (never a cross join), and the per-query ranking is a bounded
    row_number window — the shape that holds at any corpus size."""
    from apache_beam_spark.plans import plan_string, shuffle_count

    df = Q["embed_lsh_knn"](spark, SF)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # bucket equi-join + window repartition + the narrow-scan spreads:
    # bounded, not data-dependent
    assert shuffle_count(df) <= 5


def test_round3_query_shapes(spark):
    """Round-3 additions keep their 100 TB shapes: no cartesian joins
    anywhere, bounded shuffle counts, broadcasts where a tiny side
    exists."""
    from apache_beam_spark.plans import plan_string, shuffle_count

    for name, max_shuffles in [
        ("cdc_upsert_snapshot", 4),    # window + anti join + union agg
        ("rate_limit_events", 2),      # one keyed window (+AQE read)
        ("dau_mau_stickiness", 6),     # 2 distincts + 2 aggs + join
        ("rollup_incremental", 5),     # two rollups + merge re-agg
        ("mad_outliers", 6),           # two percentile aggs + re-agg
        ("attribution_last_touch", 6), # dedup window + asof merge
    ]:
        df = Q[name](spark, SF)
        plan = plan_string(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert shuffle_count(df) <= max_shuffles, (
            name, shuffle_count(df))


def test_bm25_broadcasts_stats_and_idf(spark):
    """BM25's corpus stats and idf table are kilobyte frames — they
    must broadcast; the token stream must never sort-merge against
    them."""
    from apache_beam_spark.plans import plan_string

    df = Q["bm25_search"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert "TakeOrderedAndProject" in plan_string(df)


def test_zorder_write_is_single_range_exchange(spark):
    """zorder_by plans exactly one range exchange (the layout sort) —
    no extra shuffles, no cartesian."""
    from apache_beam_spark.plans import plan_string, shuffle_count
    from apache_beam_spark.plans.layout import zorder_by
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(64)).alias("a"),
        F.pmod(F.col("id") * 7, F.lit(64)).alias("b"))
    out = zorder_by(df, ["a", "b"], bits=6, num_files=8)
    plan = plan_string(out)
    assert plan.count("rangepartitioning") + plan.count("RangePartitioning") >= 1
    assert shuffle_count(out) == 1


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's skew story is AQE (SURVEY §2.4 / README): a join
    where one key owns ~90% of the rows must plan a skew-split
    sort-merge join (skew=true in the final adaptive plan), not one
    giant straggler partition."""
    from pyspark.sql import functions as F

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.shuffle.partitions")
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in (("spark.sql.autoBroadcastJoinThreshold", "-1"),
                     ("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"),
                     ("spark.sql.adaptive.skewJoin"
                      ".skewedPartitionThresholdInBytes", "64KB"),
                     ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                      "64KB"),
                     ("spark.sql.shuffle.partitions", "8")):
            spark.conf.set(k, v)
        left = spark.range(50_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        right = spark.range(1000).select(F.col("id").alias("k"),
                                         F.lit("dim").alias("v"))
        j = left.join(right, on="k")
        assert len(j.collect()) == 45_100
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dsir_scores_plan_shape(spark):
    """DSIR scoring: the weight table joins BROADCAST (4096 rows), the
    totals ride a broadcast scalar join (no CartesianProduct), and no
    python stage appears — the whole pipeline is Column ops."""
    from apache_beam_spark.plans import plan_string

    df = Q["dsir_scores"](spark, SF)
    p = plan_string(df)
    assert broadcast_join_count(df) >= 1
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "FlatMapGroupsInPandas" not in p and "MapInPandas" not in p


def test_dsir_select_no_global_window_funnel(spark):
    """The top-frac rank must NOT be an unpartitioned window (which
    drags the whole score frame through one task): the plan carries a
    pid-PARTITIONED window and never an Exchange SinglePartition."""
    from apache_beam_spark.plans import plan_string

    df = Q["dsir_select_top"](spark, SF)
    p = plan_string(df)
    assert "windowspecdefinition(pid#" in p
    assert "Exchange SinglePartition" not in p


def test_wordpiece_literal_path_stays_jvm(spark):
    """The demo-vocab WordPiece query keeps everything but the walk in
    the JVM: no row-level python UDF, the one python stage (the walk)
    reads the distinct-word aggregation's output rather than the
    per-token explode, and the doc aggregation + distinct-word join
    keep the shuffle count small."""
    from apache_beam_spark.plans import plan_string
    from apache_beam_spark.plans.inspect import _subtrees

    df = Q["wordpiece_token_counts"](spark, SF)
    p = plan_string(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    walks = [n for n in _subtrees(df._jdf.queryExecution().optimizedPlan())
             if n.nodeName() == "MapInPandas"]
    assert len(walks) == 1
    assert any(n.nodeName() == "Aggregate"
               for n in _subtrees(walks[0].child()))
    assert shuffle_count(df) <= 4


def test_production_tokenizer_paths_are_single_python_stage(spark):
    """The broadcast (production-vocabulary) encode paths run ONE
    python stage (the per-distinct-word scorer; the formatted plan
    prints the node in the tree and the detail section, hence the
    node-id count) and never a replace chain — plan-size constancy in
    vocabulary is asserted separately in tests/test_tokenizer_scale.py.
    WordPiece has only this path, so its demo-vocabulary query is held
    to it too.
    """
    import re

    from apache_beam_spark.plans import plan_string

    for name in ("bpe_rank_token_counts", "unigram_token_counts_bc",
                 "wordpiece_token_counts", "wordpiece_token_counts_bc"):
        df = Q[name](spark, SF)
        p = plan_string(df)
        ids = set(re.findall(r"\(\d+\) MapInPandas", p))
        assert len(ids) == 1, name
        assert "replace(replace(" not in p, name
