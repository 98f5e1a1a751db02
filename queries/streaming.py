"""Windowing and streaming: fixed, sliding, session and calendar
windows, the streaming operators replayed against value
oracles, triggers and panes, and the windowed file sinks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.pipeline import Pipeline
from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.operators.combine import Combine
from apache_beam_spark.windowing import (
    CalendarWindows, FixedWindows, Sessions, SlidingWindows,
)

from queries import query
from queries.shared import _dsum, shingle_expr, _sql_dsum, toks


@query(headline=True, oracle=f"""
            SELECT date_trunc('hour', ts) AS ws, event_type,
                   COUNT(*) AS n, {_sql_dsum('value', 'total')}
            FROM events GROUP BY 1, 2""")
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


@query(headline=True, oracle="""
            SELECT ws, COUNT(*) AS n FROM (
                SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws
                FROM events) t
            GROUP BY ws""")
def _window_sliding(spark, sf_dir):
    """SlidingWindows (SlidingWindows.java:43): 1h size / 30m period."""
    p = Pipeline(spark)
    ev = p.from_df(load_table(spark, "events", sf_dir)) \
        .with_event_time("ts") \
        .window_into(SlidingWindows("1 hour", "30 minutes"))
    agg = ev | Combine.globally(F.count(F.lit(1)).alias("n"))
    return agg.select(F.col("window.start").alias("ws"), "n").df


@query(headline=True, oracle="""
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
            FROM sessions GROUP BY user_id, sid""")
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


# variable-gap gaps-and-islands: a new island iff ts exceeds
# the running MAX of previous (ts + per-event gap); session_end
# = MAX(ts + gap) pins the dynamic gap itself.  event_id
# tie-breaks the window order; the result is order-insensitive
# (same-ts proto-windows always overlap and merge)
@query(oracle="""
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
            FROM s GROUP BY user_id, sid""")
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


@query(headline=True, oracle="""
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
            FROM sessions GROUP BY user_id, sid""")
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


@query(oracle=f"""
            SELECT date_trunc('month', o_orderdate) AS month,
                   COUNT(*) AS n_orders, {_sql_dsum('o_totalprice', 'total')}
            FROM orders GROUP BY 1""")
def _window_calendar_month(spark, sf_dir):
    """CalendarWindows.months (CalendarWindows.java) via date_trunc."""
    p = Pipeline(spark)
    o = p.from_df(load_table(spark, "orders", sf_dir)) \
        .with_event_time("o_orderdate") \
        .window_into(CalendarWindows("month"))
    agg = o | Combine.globally(F.count(F.lit(1)).alias("n_orders"),
                               _dsum("o_totalprice", "total"))
    return agg.select(F.col("window.start").alias("month"), "n_orders", "total").df


@query(scale=True, oracle=f"""
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
            WHERE i.doc_id NOT IN (SELECT id FROM dropped)""")
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


# streaming heavy hitters, exact regime: capacity >= distinct
# items makes Misra-Gries exact counting, so the whole
# streamed output is one windowed GROUP BY / HAVING
@query(scale=True, oracle="""
            SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
                     * 21600000000 AS window_start,
                   event_type AS item,
                   CAST(COUNT(*) AS BIGINT) AS approx_count
            FROM events
            WHERE event_id % 5 = 0
            GROUP BY 1, 2
            HAVING COUNT(*) >= 5""")
def _stream_heavy_hitters_exact(spark, sf_dir):
    """Streaming windowed heavy hitters run END-TO-END inside the
    query (streaming/heavy.py::streaming_heavy_hitters, Misra-Gries
    summaries in key-group state): every 5th event replays through TestStream in
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


# streaming funnel: the batch funnel CTE over the same event
# subset, timestamps as epoch microseconds
@query(scale=True, oracle="""
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
            FROM p WHERE purchase_ts IS NOT NULL""")
def _stream_funnel_exact(spark, sf_dir):
    """Streaming funnel run END-TO-END inside the query
    (streaming/sequences.py::streaming_funnel, key-group state):
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


# streaming twin of window_session_dynamic: same variable-gap
# islands over the user_id < 200 replay cohort
@query(oracle="""
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
            FROM s GROUP BY user_id, sid""")
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


# streaming session windows: gaps-and-islands over the same
# event subset; session_end = last event ts + gap (Spark merges
# sessions at exact-gap adjacency, hence the strict > below)
@query(scale=True, oracle="""
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
            FROM sessions GROUP BY user_id, sid""")
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


@query(oracle="""
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
            FROM sessions GROUP BY u, sid""")
def _stream_session_strict_exact(spark, sf_dir):
    """STRICT-GAP streaming sessions run END-TO-END inside the query —
    streaming_sessions_strict (streaming/stateful.py: each user's open
    sessions in key-group state via applyInPandasWithState +
    EventTimeTimeout, the r11 Beam-parity operator) over a TestStream replay of the real
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


# late-wave twin: the oracle sees ONLY the on-time wave
# (user_id % 5 <> 0) — one leaked late row breaks the hash
@query(scale=True, oracle="""
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
            FROM sessions GROUP BY u, sid""")
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


@query(oracle="""
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
              AND p.event_type = 'purchase'""")
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


# late-wave twin: only the on-time wave's pairs exist — one
# leaked late row on either side breaks the hash
@query(scale=True, oracle="""
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
              AND p.event_type = 'purchase'""")
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


@query(oracle="""
            SELECT DISTINCT event_id FROM events
            WHERE user_id < 400""")
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


@query(oracle="""
            SELECT DISTINCT event_id FROM events
            WHERE user_id < 500 AND user_id % 5 <> 0""")
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


@query(oracle="""
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                       AS window_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE user_id < 1000 GROUP BY 1, 2""")
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


# three-wave lateness contract: the count keeps on-time rows
# (event_id % 3 <> 0) plus late-but-within-lateness rows (the
# % 3 = 0 half of windows ending after the mid-range split M);
# beyond-lateness rows (% 3 = 0, window end <= M) are dropped
@query(oracle="""
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
            GROUP BY 1, 2""")
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


@query(oracle="""
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
            FROM r WHERE seq <= 2""")
def _stream_rate_limit_exact(spark, sf_dir):
    """Streaming per-key rate limiting run END-TO-END inside the query
    (streaming/stateful.py::streaming_rate_limit, the key-group
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


# trigger panes are a pure prefix function of the (ts, event_id)-
# ordered replay: EARLY pane k ends at row 10(k+1) with the
# running sum; the ON_TIME pane carries the window total with
# the remainder count (see _stream_trigger_exact docstring)
@query(scale=True, oracle="""
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
            FROM o WHERE rn = 1""")
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


# orFinally(Repeatedly(AfterPane(7))): same prefix-sum shape at
# fire-every-7 — a different machine composition, same algebra
@query(scale=True, oracle="""
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
            FROM o WHERE rn = 1""")
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


# AfterEach(5, 9): EARLY panes at ordered rows 5 and 14; >= 14
# elements closes the window mid-stream (is_last on pane 1,
# everything later dropped).  A window whose trigger is still
# unfinished at expiry emits its non-empty pending pane as a
# final ON_TIME row (ReduceFnRunner.onGarbageCollection,
# FIRE_IF_NON_EMPTY): cnt < 5 -> pane 0 with all cnt elements;
# 5 < cnt < 14 -> pane 1 with the cnt-5 remainder; cnt = 5 has
# an empty pending pane and emits nothing further
@query(scale=True, oracle='''
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
              AND (cnt < 5 OR (cnt > 5 AND cnt < 14))''')
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


# LATE panes + allowed-lateness > 0: wave 1 (event_id % 3 <> 0)
# fires EARLY panes every 10, every window fires one ON_TIME
# pane, then the admitted late wave (event_id % 3 = 0, windows
# ending AFTER the mid-range split M, windows seen in wave 1
# only) fires a LATE pane every 4 with cross-watermark
# accumulating totals, plus the expiry final pane for a
# non-empty late remainder; late rows of windows ending at or
# before M are dropped entirely (expired per
# LateDataDroppingDoFnRunner: end + lateness <= watermark)
@query(oracle="""
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
            WHERE g2.cnt2 % 4 <> 0""")
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


# AfterFirst(AfterPane(12), AfterWatermark): exactly one pane
# per window by whichever leg wins — count leg at the 12th
# sorted element (EARLY, partial prefix total), else watermark
# leg at the end (ON_TIME, full total); both first-and-last
@query(oracle="""
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
            FROM o WHERE rn = 1 AND cnt < 12""")
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


# ClosingBehavior.FIRE_ALWAYS with Repeatedly(AfterPane(5)):
# EARLY pane every 5; Repeatedly never finishes, so EVERY
# window emits an expiry pane — n_in_pane = cnt % 5, INCLUDING
# the empty (n = 0) panes of exactly-divisible windows
@query(oracle='''
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
            FROM o WHERE rn = 1''')
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


# OnTimeBehavior.FIRE_IF_NON_EMPTY: stream_trigger_exact minus
# the empty on-time rows (windows whose count divides 10)
@query(oracle="""
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
            FROM o WHERE rn = 1 AND cnt % 10 <> 0""")
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


# TimestampCombiner.EARLIEST: pane_ts_ms = min event time of
# the pane's OWN elements — EARLY pane k starts at sorted row
# 10k+1 (LAG 9 back from the firing row), the ON_TIME pane at
# the first remainder row, empty on-time panes fall back to
# the window end
@query(oracle="""
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
            FROM r""")
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


# Never: the trigger never fires — each window's single pane is
# the expiry-time final pane (FIRE_IF_NON_EMPTY) with all its
# elements
@query(oracle="""
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
            FROM w GROUP BY key, wend""")
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


# discarding mode: prefix-sum DIFFERENCES — EARLY pane k is the
# sum of its own 10 elements, ON_TIME the post-last-fire tail
@query(scale=True, oracle="""
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
            FROM grp_f""")
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


# the windowed sharded sink round trip: every line and its
# exact Beam-convention filename reconstructed from SQL
@query(scale=True, oracle="""
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
            FROM events WHERE user_id < 300""")
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


@query(scale=True, oracle="""
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
            FROM events WHERE user_id < 300""")
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


# streaming sink twin: single-wave replay -> batch 0 -> every
# filename carries the -pane0 stamp
@query(oracle="""
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
            FROM events WHERE user_id < 300""")
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


@query(oracle="""
            SELECT * FROM (
                SELECT CAST(user_id AS VARCHAR) AS user_id, event_id,
                       epoch_ms(ts) AS ts_ms,
                       epoch_ms(ts) // 3600000 * 3600000 AS win_start_ms,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY user_id,
                                        epoch_ms(ts) // 3600000 * 3600000
                           ORDER BY epoch_ms(ts), event_id) AS INT) AS seq
                FROM events)
            WHERE seq <= 3""")
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


@query(oracle="""
            SELECT event_id, epoch_ms(ts) AS ets_ms FROM events
        """)
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
