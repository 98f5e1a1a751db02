"""Streaming semantics tests.

Models the reference's deterministic streaming methodology
(SURVEY.md §5): scripted TestStream input (testing/TestStream.java:52)
driven through windowed aggregation with watermarks, checked against the
batch computation on the same data (the reference's batch/streaming
unification claim, tested here literally).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from apache_beam_spark.streaming import (
    TestStream,
    group_into_batches_stream,
    read_bounded,
    streaming_distinct,
    windowed_aggregate,
)
from apache_beam_spark.windowing import FixedWindows, Sessions

SCHEMA = "user string, ts timestamp, amount double"


def _rows(*tuples):
    return [{"user": u, "ts": t, "amount": a} for u, t, a in tuples]


@pytest.fixture()
def spool(tmp_path):
    return str(tmp_path / "spool")


def test_fixed_window_stream_matches_batch(spark, spool):
    ts = TestStream(spool)
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0),
                          ("b", "2024-01-01 00:00:20", 2.0)))
    ts.add_elements(_rows(("a", "2024-01-01 00:01:10", 3.0),
                          ("a", "2024-01-01 00:02:30", 4.0)))
    # batch 3 pushes the watermark far past every earlier window
    ts.add_elements(_rows(("b", "2024-01-01 01:00:00", 9.0)))

    flat = lambda df: df.select(F.col("window.start").alias("wstart"), "user", "total")
    sdf = windowed_aggregate(
        ts.stream(spark, SCHEMA), FixedWindows("1 minute"), "ts",
        aggs=[F.sum("amount").alias("total")], keys=["user"],
        allowed_lateness="0 seconds",
    )
    got = flat(read_bounded(sdf, "append")).toPandas()

    batch = flat(windowed_aggregate(
        spark.read.schema(SCHEMA).json(spool), FixedWindows("1 minute"), "ts",
        aggs=[F.sum("amount").alias("total")], keys=["user"],
    )).toPandas()

    # append mode withholds windows the watermark hasn't closed (the last
    # batch's own window) — every closed window must match batch exactly.
    assert len(got) == len(batch) - 1
    merged = got.merge(batch, on=["wstart", "user"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged.total_s == merged.total_b).all()


def test_late_data_dropped_past_watermark(spark, spool):
    ts = TestStream(spool)
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0)))
    # advance watermark way forward
    ts.add_elements(_rows(("a", "2024-01-01 02:00:00", 1.0)))
    # Spark's late-row filter uses the PREVIOUS batch's watermark (a
    # one-batch lag — same "watermark advances asynchronously" margin the
    # reference has, SURVEY.md §7 risk 1), so the drop becomes observable
    # one batch after the jump:
    ts.add_elements(_rows(("a", "2024-01-01 02:30:00", 1.0)))
    # late element for the first window: far beyond allowed lateness
    ts.add_elements(_rows(("a", "2024-01-01 00:00:30", 100.0)))
    ts.add_elements(_rows(("a", "2024-01-01 03:00:00", 1.0)))

    sdf = windowed_aggregate(
        ts.stream(spark, SCHEMA), FixedWindows("1 minute"), "ts",
        aggs=[F.sum("amount").alias("total")], keys=["user"],
        allowed_lateness="10 minutes",
    )
    got = read_bounded(sdf, "append") \
        .select(F.col("window.start").alias("wstart"), "total").toPandas()
    first = got[got.wstart == pd.Timestamp("2024-01-01 00:00:00")]
    # the late 100.0 was dropped (reference LateDataDroppingDoFnRunner):
    assert first.total.tolist() == [1.0]


def test_session_window_stream(spark, spool):
    ts = TestStream(spool)
    ts.add_elements(_rows(("a", "2024-01-01 00:00:00", 1.0),
                          ("a", "2024-01-01 00:00:30", 1.0)))   # one session
    ts.add_elements(_rows(("a", "2024-01-01 00:10:00", 5.0)))   # new session
    ts.add_elements(_rows(("a", "2024-01-01 01:00:00", 0.0)))   # close all
    sdf = windowed_aggregate(
        ts.stream(spark, SCHEMA), Sessions("1 minute"), "ts",
        aggs=[F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n")],
        keys=["user"], allowed_lateness="0 seconds",
    )
    got = read_bounded(sdf, "append").toPandas().sort_values("total")
    assert got.n.tolist() == [2, 1]
    assert got.total.tolist() == [2.0, 5.0]


def test_group_into_batches_stream(spark, spool):
    ts = TestStream(spool)
    ts.add_elements([{"user": "a", "ts": "2024-01-01 00:00:00", "amount": float(i)}
                     for i in range(5)])
    ts.add_elements([{"user": "b", "ts": "2024-01-01 00:00:01", "amount": float(i)}
                     for i in range(2)])
    out = group_into_batches_stream(
        ts.stream(spark, SCHEMA), key="user", batch_size=2, value_cols=["amount"],
    )
    got = read_bounded(out, "append").toPandas()
    # a: 5 values -> two full batches (one remainder stays buffered);
    # b: 2 values -> one full batch
    a = got[got.user == "a"]
    assert sorted(a.n.tolist()) == [2, 2]
    assert got[got.user == "b"].n.tolist() == [2]


def test_streaming_distinct(spark, spool):
    ts = TestStream(spool)
    ts.add_elements(_rows(("a", "2024-01-01 00:00:00", 1.0),
                          ("a", "2024-01-01 00:00:00", 1.0)))
    ts.add_elements(_rows(("a", "2024-01-01 00:00:05", 1.0)))  # dup again, in-watermark
    out = streaming_distinct(ts.stream(spark, SCHEMA), ["user"], "ts", "1 hour")
    got = read_bounded(out, "append").toPandas()
    assert len(got) == 1


def test_rate_stream_smoke(spark):
    from apache_beam_spark.streaming import rate_stream

    sdf = rate_stream(spark, rows_per_second=10)
    assert sdf.isStreaming
    assert set(sdf.columns) == {"timestamp", "value"}


def test_read_bounded_available_now(spark, spool):
    """BoundedReadFromUnboundedSource: availableNow processes the
    currently-spooled data then terminates."""
    ts = TestStream(spool)
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0)))
    ts.add_elements(_rows(("b", "2024-01-01 00:00:20", 2.0)))
    out = read_bounded(ts.stream(spark, SCHEMA))
    assert sorted(r["user"] for r in out.collect()) == ["a", "b"]


def test_late_data_counter_observe(spark, spool):
    """The droppedDueToLateness parity metric: an observe() upstream of
    the watermark counts ALL input rows; comparing with emitted rows
    exposes the drop (reference LateDataDroppingDoFnRunner:53)."""
    from apache_beam_spark.streaming.windowed import with_late_data_counter

    ts = TestStream(spool)
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0)))
    ts.add_elements(_rows(("a", "2024-01-01 02:00:00", 1.0)))
    observed = with_late_data_counter(ts.stream(spark, SCHEMA), "inputs")
    sdf = windowed_aggregate(
        observed, FixedWindows("1 minute"), "ts",
        aggs=[F.sum("amount").alias("total")], keys=["user"],
        allowed_lateness="0 seconds",
    )
    name = "late_counter_obs"
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    counted = sum(p["observedMetrics"]["inputs"]["rows"]
                  for p in progress if "inputs" in p.get("observedMetrics", {}))
    assert counted == 2  # every input row observed pre-watermark


def test_generate_sequence_bounded(spark):
    from apache_beam_spark.sources.io import GenerateSequence

    df = GenerateSequence.bounded(spark, 5, 15)
    vals = sorted(r["id"] for r in df.collect())
    assert vals == list(range(5, 15))
    assert df.rdd.getNumPartitions() >= 2  # parallel range
