"""Round-3 streaming depth: session windows on unbounded input and
null-extended outer stream-stream interval joins."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from apache_beam_spark.streaming import windowed_aggregate
from apache_beam_spark.streaming.joins import interval_join
from apache_beam_spark.streaming.sources import TestStream
from apache_beam_spark.streaming.sources import read_bounded
from apache_beam_spark.windowing import Sessions


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Sessions through windowed_aggregate on a STREAM: merged session
    extents and aggregates equal the batch run of the same code path
    (reference Sessions.java:40 via session_window state merge)."""
    schema = "key string, ts timestamp, value double"
    rows = [("a", "2024-01-01T00:00:00Z", 1.0),
            ("a", "2024-01-01T00:05:00Z", 2.0),   # same session (gap 10m)
            ("a", "2024-01-01T00:30:00Z", 4.0),   # new session
            ("b", "2024-01-01T00:02:00Z", 8.0)]
    ts = TestStream(str(tmp_path / "sess"))
    ts.add_elements([dict(zip(("key", "ts", "value"), r)) for r in rows])
    # watermark-advancing batch closes all sessions
    ts.add_elements([{"key": "z", "ts": "2024-01-01T06:00:00Z", "value": 0.0}])

    def agg(df):
        return windowed_aggregate(
            df, Sessions("10 minutes"), "ts",
            aggs=[F.sum("value").alias("total")], keys=["key"],
            allowed_lateness="0 seconds")

    got = {(r["key"], r["window"].start.minute): r["total"]
           for r in read_bounded(agg(ts.stream(spark, schema))).collect()
           if r["key"] != "z"}
    assert got == {("a", 0): 3.0, ("a", 30): 4.0, ("b", 2): 8.0}

    batch = spark.createDataFrame(
        [(k, dt.datetime.fromisoformat(t.replace("Z", "+00:00"))
          .replace(tzinfo=None), v) for k, t, v in rows], schema)
    bgot = {(r["key"], r["window"].start.minute): r["total"]
            for r in agg(batch).collect()}
    assert bgot == got


def test_interval_join_left_outer_streaming(spark, tmp_path):
    """Left-outer stream-stream interval join: unmatched left rows are
    null-extended once the watermark passes their join window
    (reference CoGBK outer semantics on the streaming path)."""
    lschema = "user long, lts timestamp, amount double"
    rschema = "user long, rts timestamp, tag string"
    lts = TestStream(str(tmp_path / "l"))
    rts = TestStream(str(tmp_path / "r"))
    lts.add_elements([
        {"user": 1, "lts": "2024-01-01T00:00:00Z", "amount": 10.0},
        {"user": 2, "lts": "2024-01-01T00:01:00Z", "amount": 20.0}])
    rts.add_elements([
        {"user": 1, "rts": "2024-01-01T00:05:00Z", "tag": "hit"}])
    # advance both watermarks far past the 10-minute join window
    lts.add_elements([{"user": 9, "lts": "2024-01-01T06:00:00Z", "amount": 0.0}])
    rts.add_elements([{"user": 9, "rts": "2024-01-01T06:00:00Z", "tag": "x"}])

    joined = interval_join(
        lts.stream(spark, lschema), rts.stream(spark, rschema), on="user",
        left_ts="lts", right_ts="rts",
        lower="0 seconds", upper="10 minutes",
        watermark_delay="0 seconds", how="left")
    rows = {(r["user"], r["amount"]): r["tag"]
            for r in read_bounded(joined, output_mode="append").collect()
            if r["user"] != 9}
    assert rows[(1, 10.0)] == "hit"       # matched inside the interval
    assert rows[(2, 20.0)] is None        # null-extended after watermark


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join (the reference's side-input enrichment on an
    unbounded main input): a streaming fact joined to a small static
    dimension broadcasts the dim — no stream-stream state machinery."""
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0)], "etype string, weight double")
    ts = TestStream(str(tmp_path / "enrich"))
    ts.add_elements([
        {"etype": "view", "ts": "2024-01-01T00:00:00Z", "v": 10.0},
        {"etype": "click", "ts": "2024-01-01T00:00:01Z", "v": 5.0},
        {"etype": "other", "ts": "2024-01-01T00:00:02Z", "v": 1.0}])
    sdf = (ts.stream(spark, "etype string, ts timestamp, v double")
           .join(F.broadcast(dim), on="etype", how="left")
           .select("etype", (F.col("v") * F.coalesce("weight", F.lit(0.0)))
                   .alias("weighted")))
    got = {r["etype"]: r["weighted"] for r in read_bounded(sdf).collect()}
    assert got == {"view": 10.0, "click": 10.0, "other": 0.0}


def test_streaming_rollup_cascade_matches_batch(spark, tmp_path):
    """Two-level rollup (hourly -> daily) on a STREAM via window-of-
    window chained stateful aggregations == the batch cascade of the
    same code path (operators/rollup.py)."""
    from apache_beam_spark.operators.rollup import rollup_windows

    rows = [("a", "2024-01-01T00:10:00Z", 1.0),
            ("a", "2024-01-01T02:10:00Z", 2.0),
            ("b", "2024-01-01T10:00:00Z", 4.0),
            ("a", "2024-01-02T00:30:00Z", 8.0)]
    ts = TestStream(str(tmp_path / "roll"))
    ts.add_elements([dict(zip(("k", "ts", "v"), r)) for r in rows])
    ts.add_elements([{"k": "z", "ts": "2024-01-09T00:00:00Z", "v": 0.0}])

    aggs = {"s": "sum:v", "n": "count", "m": "max:v"}

    sdf = (ts.stream(spark, "k string, ts timestamp, v double")
           .withWatermark("ts", "0 seconds"))
    sout = rollup_windows(sdf, "ts", ["k"], aggs,
                          ["1 hour", "1 day"])["1 day"]
    got = {(r["window"].start.day, r["k"]): (r["s"], r["n"], r["m"])
           for r in read_bounded(sout).collect() if r["k"] != "z"}

    batch = spark.createDataFrame(
        [(k, dt.datetime.fromisoformat(t.replace("Z", "+00:00"))
          .replace(tzinfo=None), v) for k, t, v in rows],
        "k string, ts timestamp, v double")
    bout = rollup_windows(batch, "ts", ["k"], aggs,
                          ["1 hour", "1 day"])["1 day"]
    exp = {(r["window"].start.day, r["k"]): (r["s"], r["n"], r["m"])
           for r in bout.collect()}
    assert got == exp == {(1, "a"): (3.0, 2, 2.0), (1, "b"): (4.0, 1, 4.0),
                          (2, "a"): (8.0, 1, 8.0)}


def test_streaming_windowed_percentile_and_latest(spark, tmp_path):
    """Sketch (approx percentile) and max_by (Latest.perKey) aggregates
    run INSIDE the streaming windowed agg and match the batch run of
    the same expressions — the reference's ApproximateQuantiles /
    Latest as watermark-safe streaming combiners."""
    rows = [("a", "2024-01-01T00:05:00Z", 1.0),
            ("a", "2024-01-01T00:10:00Z", 9.0),
            ("a", "2024-01-01T00:20:00Z", 5.0),
            ("b", "2024-01-01T00:30:00Z", 7.0)]
    ts = TestStream(str(tmp_path / "pct"))
    ts.add_elements([dict(zip(("k", "ts", "v"), r)) for r in rows])
    ts.add_elements([{"k": "z", "ts": "2024-01-01T09:00:00Z", "v": 0.0}])

    aggs = [F.expr("approx_percentile(v, 0.5)").alias("p50"),
            F.expr("max_by(v, ts)").alias("latest"),
            F.count(F.lit(1)).alias("n")]

    def agg(df):
        return windowed_aggregate(
            df, __import__("apache_beam_spark.windowing",
                           fromlist=["FixedWindows"]).FixedWindows("1 hour"),
            "ts", aggs=aggs, keys=["k"], allowed_lateness="0 seconds")

    got = {r["k"]: (r["p50"], r["latest"], r["n"])
           for r in read_bounded(agg(ts.stream(
               spark, "k string, ts timestamp, v double"))).collect()
           if r["k"] != "z"}
    batch = spark.createDataFrame(
        [(k, dt.datetime.fromisoformat(t.replace("Z", "+00:00"))
          .replace(tzinfo=None), v) for k, t, v in rows],
        "k string, ts timestamp, v double")
    exp = {r["k"]: (r["p50"], r["latest"], r["n"])
           for r in agg(batch).collect()}
    assert got == exp
    assert got["a"] == (5.0, 5.0, 3)   # p50 of {1,9,5}; latest by ts
    assert got["b"] == (7.0, 7.0, 1)
