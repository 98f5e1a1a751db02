"""Analytics: sketches, funnels, retention, sessions, as-of and
range joins, rollups, CDC and SCD2, cubes, outliers and data
quality reports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.sources.tables import load_table

from queries import query
from queries.shared import _dsum, _sql_dsum


# HyperLogLog, register collisions included: same md5-derived
# 60-bit hash (top 4 hex digits -> bucket, low 13 -> rank
# window), same bigint common-denominator harmonic sum, same
# linear-counting correction — the float estimate is
# bit-identical, not approximately equal.
@query(headline=True, oracle=f"""
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
            FROM e""")
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


# KMV set-algebra sketch: same md5-derived 60-bit hash, same
# bottom-k minima, same union-threshold Jaccard — estimates
# are bit-identical, register-for-register.
@query(headline=True, oracle=f"""
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
            FROM j""")
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


# Histogram quantile sketch: identical bin geometry (width 2048
# is an exact double), bigint cumulative walk, one final float
# division — estimates are bit-identical, not approximate-equal.
@query(headline=True, oracle="""
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
            WHERE c >= r AND c - cnt < r""")
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


@query(headline=True, oracle="""
            SELECT user_id, COUNT(*) AS n_converted_views
            FROM events v
            WHERE event_type = 'view'
              AND EXISTS (SELECT 1 FROM events p
                          WHERE p.user_id = v.user_id
                            AND p.event_type = 'purchase'
                            AND p.ts > v.ts
                            AND p.ts <= v.ts + INTERVAL 1 HOUR)
            GROUP BY user_id""")
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


@query(headline=True, oracle="""
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
            GROUP BY f.cohort_week, week_offset""")
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


@query(headline=True, oracle="""
            SELECT user_id,
                   COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                   COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                   COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
            FROM events GROUP BY user_id""")
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


@query(oracle="""
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
            WHERE ABS((value - mu) / sd) > 2.5""")
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


@query(oracle=f"""
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
            FROM pc, d0""")
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


@query(headline=True, oracle="""
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
                         AND CURRENT ROW)""")
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


@query(oracle="""
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
            FROM orders""")
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


@query(oracle="""
            SELECT event_type,
                   CAST(k % 10 AS INT) AS k_mod,
                   COUNT(*) AS n,
                   CAST(MIN(k) AS INT) AS k_min,
                   CAST(MAX(k) AS INT) AS k_max
            FROM (SELECT event_type,
                         CAST(json_extract(props, '$.k') AS INT) AS k
                  FROM events) t
            GROUP BY 1, 2""")
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


@query(headline=True, oracle="""
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w
                         AS DOUBLE), 6) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY (epoch_us(ts) // 1000000)
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")
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


@query(headline=True, oracle="""
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
            FROM r GROUP BY 1, 2""")
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


@query(headline=True, oracle="""
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
            FROM w""")
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


@query(headline=True, oracle="""
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
            WHERE rank <= 2""")
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


@query(oracle="""
            WITH pu AS (SELECT user_id, COUNT(*) AS n_events
                        FROM events GROUP BY user_id),
            m AS (SELECT ROUND(SUM(n_events) / COUNT(*), 6) AS mean FROM pu)
            SELECT user_id, n_events FROM pu, m
            WHERE n_events > 1.15 * mean""")
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


@query(headline=True, oracle="""
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
            FROM p WHERE purchase_ts IS NOT NULL""")
def _funnel_instances(spark, sf_dir):
    """Sequence-pattern instances (operators/sequences.py): each view
    -> earliest click within 1 day -> earliest purchase within 1 day
    of that click; one window pass + one keyed join per chained step."""
    from apache_beam_spark.operators.sequences import funnel_instances

    return funnel_instances(load_table(spark, "events", sf_dir),
                            steps=["view", "click", "purchase"],
                            within_each="1 day")


@query(headline=True, oracle="""
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
            FROM s GROUP BY user_id, sid""")
def _user_sessions(spark, sf_dir):
    """examples TopWikipediaSessions.java: sessionize events per user
    (30-min gap), emit per-session event counts.  Session windows via
    session_window; the oracle reproduces them with gaps-and-islands
    SQL (lag + cumulative sum), proving semantic equivalence."""
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"), "n_events"))


@query(headline=True, oracle="""
            SELECT l.event_id, l.user_id, l.ts, r.ts AS last_purchase_ts
            FROM events l
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                            WHERE event_type = 'purchase') r
            ON l.user_id = r.user_id AND l.ts >= r.ts""")
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


@query(headline=True, oracle="""
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
                   COUNT(*) AS n, MAX(value) AS vmax
            FROM events GROUP BY 1, 2""")
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


@query(headline=True, oracle="""
            SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
            FROM events p JOIN events e
              ON p.user_id = e.user_id
             AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE
            WHERE p.event_type = 'purchase' AND e.event_type = 'error'""")
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


@query(headline=True, oracle=f"""
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
            WHERE op <> 'D'""")
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


@query(oracle="""
            SELECT user_id, event_id, ts, value,
                   ts AS valid_from,
                   LEAD(ts) OVER w AS valid_to,
                   LEAD(ts) OVER w IS NULL AS is_current
            FROM events WHERE event_type = 'purchase'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")
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


@query(oracle="""
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
            FROM c ORDER BY n DESC, s1, s2, s3 LIMIT 20""")
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


@query(oracle="""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       AS sum_qty,
                   COUNT(*) AS n,
                   CAST(GROUPING(l_returnflag) * 2
                        + GROUPING(l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)""")
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


@query(oracle="""
            SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
            FROM events
            WHERE event_type IN ('click','error','purchase','signup','view')
            GROUP BY 1, 2""")
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


@query(oracle="""
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
            FROM d""")
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


@query(oracle=f"""
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
                  (n.event_id, n.ts, n.value)""")
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


@query(oracle="""
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
            GROUP BY d.event_type""")
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


@query(oracle="""
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
                   COUNT(*) AS n, MAX(value) AS vmax
            FROM events GROUP BY 1, 2""")
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


@query(oracle="""
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
              ON p.user_id = t.user_id AND p.ts >= t.touch_ts""")
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


@query(oracle="""
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
            FROM g""")
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


@query(oracle="""
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
                              WHERE o.o_orderkey = l.l_orderkey)""")
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


@query(oracle="""
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
            FROM dau JOIN mau ON dau.day = mau.day""")
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


@query(oracle=_zorder_oracle_sql)
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
