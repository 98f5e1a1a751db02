"""Beam core transforms: element-wise maps and filters, GroupByKey,
Combine, Count, Top, Distinct, Sample, Quantiles, joins,
CoGroupByKey, Flatten, Partition and Regex.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.pipeline import Pipeline
from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.operators.elementwise import (
    KvSwap, Regex, ToStringOp, WithKeys, Partition,
)
from apache_beam_spark.operators.grouping import (
    CoGroupByKey, GroupByKey, GroupIntoBatches,
)
from apache_beam_spark.operators.combine import (
    ApproximateQuantiles, ApproximateUnique, Combine, Count, Distinct, Sample,
    Top,
)
from apache_beam_spark.operators.join import Join
from apache_beam_spark.operators.flatten import Flatten

from queries import query
from queries.shared import (
    _davg, _disc_price, _dsum, _sql_davg, _SQL_DISC_PRICE, _sql_dsum,
)


@query(oracle=f"""
            SELECT l_orderkey, l_linenumber,
                   CAST({_SQL_DISC_PRICE} AS DOUBLE) AS net_price
            FROM lineitem WHERE l_quantity > 45""")
def _elementwise_project(spark, sf_dir):
    """MapElements fast path: Column projection (MapElements.java:74)."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    out = li.where("l_quantity > 45").select(
        "l_orderkey", "l_linenumber",
        _disc_price().cast("double").alias("net_price"),
    )
    return out.df


@query(oracle="""
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice > 400000 AND o_orderstatus = 'O'""")
def _filter_orders(spark, sf_dir):
    """Filter.by + comparison shortcuts (Filter.java:52,77)."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    return o.where((F.col("o_totalprice") > 400000) & (F.col("o_orderstatus") == "O")) \
        .select("o_orderkey", "o_totalprice").df


@query(headline=True, oracle="""
            SELECT word, COUNT(*) AS n FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
                FROM documents) t
            WHERE word <> '' GROUP BY word""")
def _wordcount(spark, sf_dir):
    """The reference's canonical example (examples/java/.../WordCount.java):
    FlatMap(split) -> Count.perElement."""
    p = Pipeline(spark)
    docs = p.from_df(load_table(spark, "documents", sf_dir))
    words = docs.apply(Regex.split("text", "[^a-z0-9]+", alias="word"))
    return (words | Count.per_element("word", alias="n")).df


@query(oracle="""
            SELECT user_id, COUNT(value) AS n FROM events GROUP BY user_id""")
def _group_by_key(spark, sf_dir):
    """GroupByKey -> per-key bag; emit bag size (GroupByKey.java:139)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    gbk = ev.apply(GroupByKey(keys="user_id", value="value", alias="values"))
    return gbk.select("user_id", F.size("values").alias("n")).df


@query(headline=True, oracle="""
            SELECT user_id, COUNT(value) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM events GROUP BY user_id""")
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


@query(oracle=f"""
            SELECT event_type, {_sql_dsum('value', 'total')},
                   COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
            FROM events GROUP BY event_type""")
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


@query(oracle="SELECT COUNT(*) AS n FROM lineitem")
def _count_global(spark, sf_dir):
    """Count.globally (reference transforms/Count.java:54): one scalar row."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    return (li | Count.globally(alias="n")).df


@query(oracle="""
            SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag""")
def _count_per_element(spark, sf_dir):
    """Count.perElement (Count.java:75): counts per distinct value."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    return (li | Count.per_element("l_returnflag", alias="n")).df


@query(oracle=f"""
            SELECT l_returnflag, MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax,
                   {_sql_davg('l_quantity', 'qavg')}, COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag""")
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


@query(oracle="""
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")
def _top_global(spark, sf_dir):
    """Top.largest (Top.java:146) — TakeOrderedAndProject, no full sort."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    top = o | Top.largest("o_totalprice", 10, tiebreak=["o_orderkey"])
    return top.select("o_orderkey", "o_totalprice").df


@query(headline=True, oracle="""
            SELECT l_returnflag, l_orderkey, l_extendedprice, rank FROM (
                SELECT l_returnflag, l_orderkey, l_extendedprice,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
                FROM lineitem) t
            WHERE rank <= 3""")
def _top_per_key(spark, sf_dir):
    """Top.perKey (Top.java:237) — bounded heap per key via row_number."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    top = li | Top.per_key("l_returnflag", "l_extendedprice", 3,
                           rank_alias="rank", tiebreak=["l_orderkey", "l_linenumber"])
    return top.select("l_returnflag", "l_orderkey", "l_extendedprice", "rank").df


@query(oracle="SELECT DISTINCT c_mktsegment FROM customer")
def _distinct_segments(spark, sf_dir):
    """Distinct (transforms/Distinct.java:48) over a derived segment column."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    return c.apply(Distinct(cols=["c_mktsegment"])).df


@query(oracle="""
            SELECT o_custkey, MIN(o_orderkey) AS first_orderkey,
                   arg_min(o_totalprice, o_orderkey) AS first_price
            FROM orders GROUP BY o_custkey""")
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


@query(headline=True, oracle="""
            SELECT user_id, ts AS latest_ts, event_id AS latest_event FROM (
                SELECT user_id, ts, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t
            WHERE rn = 1""")
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


@query(oracle="""
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type""")
def _distinct_count_exact(spark, sf_dir):
    """Exact distinct-count twin of approx_distinct_users (oracled)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return (ev | Combine.per_key(
        "event_type", F.countDistinct("user_id").alias("n_users")
    )).df


@query()
def _approx_distinct_users(spark, sf_dir):
    """ApproximateUnique (ApproximateUnique.java:85) — HLL++ sketch;
    rows-only check (sketch differs from DuckDB's)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return (ev | ApproximateUnique.per_key("event_type", "user_id",
                                           alias="approx_users")).df


@query(oracle="""
            SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
                   ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
            FROM lineitem""")
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


@query()
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


@query()
def _sample_any(spark, sf_dir):
    """Sample.any(n) (Sample.java:74) — arbitrary n rows; rows-only."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    return (o | Sample.any(100)).select("o_orderkey").df


@query(oracle="""
            SELECT o_orderkey FROM orders
            ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 100""")
def _sample_deterministic(spark, sf_dir):
    """Sample.fixedSizeGlobally's verification twin: ordering by a
    cross-engine hash (md5) instead of rand() makes the 'random'
    100-row sample oracle-checkable while exercising the same
    order-and-limit plan shape (global top-k, not a full sort)."""
    o = load_table(spark, "orders", sf_dir)
    return (o.orderBy(F.md5(F.col("o_orderkey").cast("string").cast("binary")),
                      "o_orderkey")
            .limit(100).select("o_orderkey"))


@query(oracle="""
            SELECT o_orderkey, c_name FROM orders
            JOIN customer ON o_custkey = c_custkey""")
def _join_inner(spark, sf_dir):
    """Join.innerJoin (join-library Join.java:48)."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    c = p.from_df(load_table(spark, "customer", sf_dir).withColumnRenamed("c_custkey", "o_custkey"))
    return o.apply(Join.inner(c, on="o_custkey", broadcast=True)) \
        .select("o_orderkey", "c_name").df


@query(oracle=f"""
            SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
                   COALESCE({_sql_dsum('o_totalprice', 'x').replace(' AS x', '')}, 0.0) AS spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey""")
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


@query(oracle="""
            SELECT r_name, n_name FROM nation
            RIGHT JOIN region ON n_regionkey = r_regionkey""")
def _join_right(spark, sf_dir):
    """Join.rightOuterJoin (Join.java:147)."""
    p = Pipeline(spark)
    n = p.from_df(load_table(spark, "nation", sf_dir).withColumnRenamed("n_regionkey", "r_regionkey"))
    r = p.from_df(load_table(spark, "region", sf_dir))
    return n.apply(Join.right_outer(r, on="r_regionkey")).select("r_name", "n_name").df


@query(oracle="""
            SELECT r_name, n_name FROM region
            FULL OUTER JOIN nation ON r_regionkey = n_regionkey""")
def _join_full(spark, sf_dir):
    """Join.fullOuterJoin (Join.java:201)."""
    p = Pipeline(spark)
    r = p.from_df(load_table(spark, "region", sf_dir).withColumnRenamed("r_regionkey", "k"))
    n = p.from_df(load_table(spark, "nation", sf_dir).withColumnRenamed("n_regionkey", "k"))
    return r.apply(Join.full_outer(n, on="k")).select("r_name", "n_name").df


@query(oracle="""
            SELECT c_custkey FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")
def _join_semi(spark, sf_dir):
    """left-semi (free capability beyond reference, SURVEY §2.4)."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    o = p.from_df(load_table(spark, "orders", sf_dir).withColumnRenamed("o_custkey", "c_custkey"))
    return c.apply(Join.semi(o, on="c_custkey")).select("c_custkey").df


@query(oracle="""
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 400000)""")
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


@query(headline=True, oracle=f"""
            SELECT r_name, n_name,
                   CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name""")
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


@query(headline=True, oracle="""
            SELECT COALESCE(o.key, l.key) AS key,
                   COALESCE(o.n, 0) AS n_orders, COALESCE(l.n, 0) AS n_items
            FROM (SELECT o_orderkey AS key, COUNT(*) AS n FROM orders GROUP BY 1) o
            FULL OUTER JOIN
                 (SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1) l
            ON o.key = l.key""")
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


@query(oracle="""
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1000
            UNION ALL
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000""")
def _flatten_union(spark, sf_dir):
    """Flatten.pCollections (Flatten.java:66)."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    lo = o.where("o_totalprice < 1000")
    hi = o.where("o_totalprice > 400000")
    return Flatten.pcollections([lo, hi]).select("o_orderkey", "o_totalprice").df


@query(oracle="""
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0""")
def _partition_branch(spark, sf_dir):
    """Partition.of(n, fn) (Partition.java:95) — branch 0 of 3."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir))
    parts = Partition.by(o, 3, F.col("o_orderkey"))
    return parts[0].select("o_orderkey", "o_totalprice").df


@query(oracle="SELECT value AS key, event_type AS value FROM events")
def _kv_swap(spark, sf_dir):
    """WithKeys + KvSwap (WithKeys.java:66, KvSwap.java:56)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    kv = ev.apply(WithKeys(F.col("event_type"), name="key")) \
        .select("key", F.col("value"))
    return kv.apply(KvSwap()).df


@query(oracle="""
            SELECT CAST(r_regionkey AS VARCHAR) || ',' || r_name AS str FROM region""")
def _tostring_kvs(spark, sf_dir):
    """ToString.kvs (ToString.java:52)."""
    p = Pipeline(spark)
    r = p.from_df(load_table(spark, "region", sf_dir))
    return r.apply(ToStringOp(cols=["r_regionkey", "r_name"], sep=",", alias="str")).df


@query(oracle=r"""
            SELECT regexp_extract(c_name, 'Customer#(\d+)', 1) AS cust_num
            FROM customer WHERE regexp_matches(c_name, 'Customer#(\d+)')""")
def _regex_matches(spark, sf_dir):
    """Regex.matches group extraction (Regex.java:51-105)."""
    p = Pipeline(spark)
    c = p.from_df(load_table(spark, "customer", sf_dir))
    return c.apply(Regex.matches("c_name", "Customer#(\\d+)", group=1, alias="cust_num")).df


@query(oracle=r"""
            SELECT doc_id, regexp_replace(text, '\bdata\b', 'DATA', 'g') AS text2
            FROM documents""")
def _regex_replace(spark, sf_dir):
    """Regex.replaceAll (Regex.java)."""
    p = Pipeline(spark)
    d = p.from_df(load_table(spark, "documents", sf_dir))
    rep = d.apply(Regex.replace_all("text", "\\bdata\\b", "DATA", alias="text2"))
    return rep.select("doc_id", "text2").df


@query(oracle="""
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events""")
def _json_extract(spark, sf_dir):
    """jackson extension ParseJsons equivalent (sdks/java/extensions/jackson)
    -> from_json/get_json_object."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    ).df


@query(headline=True, oracle="""
            SELECT user_id,
                   CASE WHEN g < n // 10 THEN 10 ELSE n % 10 END AS batch_size
            FROM (
                SELECT user_id, n,
                       unnest(range(0, CAST(CEIL(n / 10.0) AS INT))) AS g
                FROM (SELECT user_id, COUNT(*)::INT AS n
                      FROM events GROUP BY user_id) c) t""")
def _group_into_batches(spark, sf_dir):
    """GroupIntoBatches.ofSize (GroupIntoBatches.java:79) — batch sizes
    are deterministic (contents arbitrary)."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir))
    g = ev.apply(GroupIntoBatches(10, keys="user_id", value="event_id", alias="batch"))
    return g.select("user_id", F.size("batch").alias("batch_size")).df


@query(headline=True, oracle="""
            SELECT l_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                       ORDER BY l_shipdate, l_linenumber) AS pos_rank,
                   l_linenumber
            FROM lineitem""")
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


@query(oracle="""
            SELECT l_returnflag, l_orderkey, l_linenumber FROM (
                SELECT l_returnflag, l_orderkey, l_linenumber,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag
                           ORDER BY md5(concat(CAST(l_orderkey AS VARCHAR), '-',
                                               CAST(l_linenumber AS VARCHAR)))) AS rn
                FROM lineitem) t
            WHERE rn <= 5""")
def _sample_fixed_per_key(spark, sf_dir):
    """Sample.fixedSizePerKey (reference transforms/Sample.java:100) —
    deterministic "random" via md5 ordering so the oracle agrees."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, "lineitem", sf_dir)
    h = F.md5(F.concat_ws("-", F.col("l_orderkey").cast("string"),
                          F.col("l_linenumber").cast("string")))
    # two-level top-k (r14, VERDICT r13 item 7 — Top.per_key's
    # pattern): a window over the THREE-value l_returnflag sorts every
    # lineitem row in 3 tasks at any scale.  Level 1 takes the
    # per-(flag, salt) top-5 in parallel (salt = deterministic hash of
    # the ordering column); level 2 ranks the <= 160 survivors per
    # flag.  Exact because md5 over the unique key pair is a total
    # order.
    pruned = Top.prune_salted(li, ["l_returnflag"], [h], [h], 5)
    w = W.partitionBy("l_returnflag").orderBy(h)
    return (pruned.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("l_returnflag", "l_orderkey", "l_linenumber"))


@query(oracle="""
            SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS w
            FROM documents""")
def _regex_find_all(spark, sf_dir):
    """Regex.find family (reference transforms/Regex.java): extract all
    long (6+ letter) words from documents, exploded.  (The synthetic
    text contains no digits, so a number pattern would match nothing
    and the check would be vacuous.)"""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.explode(F.expr(r"regexp_extract_all(text, '[a-z]{6,}', 0)")).alias("w"))


@query(oracle="""
            SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type""")
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


@query(oracle="""
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 6) AS p50,
                   ROUND(quantile_cont(value, 0.95), 6) AS p95
            FROM events GROUP BY event_type""")
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


@query(oracle=f"""
            SELECT CASE WHEN b < 0 THEN -1 WHEN b >= 20 THEN 20
                        ELSE b END AS bin,
                   COUNT(*) AS n,
                   {_sql_dsum('value', 'sum_value', 4)}
            FROM (SELECT CAST(FLOOR(value / 25) AS INT) AS b, value
                  FROM events) t
            GROUP BY 1""")
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


@query(oracle=f"""
            SELECT {_sql_dsum('l_quantity', 'total_qty')},
                   {_sql_davg('l_extendedprice', 'mean_price')},
                   COUNT(*) AS n
            FROM lineitem""")
def _sum_mean_global(spark, sf_dir):
    """Combine.globally (Combine.java:100) / Sum / Mean.globally
    (Sum.java:52, Mean.java:66): single-row global aggregate."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        _dsum("l_quantity", "total_qty"),
        _davg("l_extendedprice", "mean_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(oracle="""
            SELECT event_id, ts, event_type FROM events
            ORDER BY ts DESC, event_id DESC LIMIT 1""")
def _latest_global(spark, sf_dir):
    """Latest.globally (Latest.java:57): the element with the maximum
    timestamp (event_id desc as deterministic tiebreak)."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(1)
            .select("event_id", "ts", "event_type"))


@query(oracle="""
            SELECT event_id,
                   regexp_extract(props, '"([a-z]+)": (\\d+)', 1) AS k,
                   CAST(regexp_extract(props, '"([a-z]+)": (\\d+)', 2)
                        AS BIGINT) AS v
            FROM events
            WHERE regexp_matches(props, '"([a-z]+)": (\\d+)')""")
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
