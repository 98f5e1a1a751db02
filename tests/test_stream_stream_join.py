"""Stream-stream join (the unbounded CoGBK/join of SURVEY.md §2.4):
two watermarked streams joined with a key + event-time-range condition —
Spark buffers both sides in state and evicts by watermark, replacing the
reference's per-window CoGBK state machinery."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.streaming import TestStream, read_bounded


def test_stream_stream_time_range_join(spark, tmp_path):
    clicks = TestStream(str(tmp_path / "clicks"))
    buys = TestStream(str(tmp_path / "buys"))

    clicks.add_elements([{"user": "a", "cts": "2024-01-01 00:00:00", "page": "x"},
                         {"user": "a", "cts": "2024-01-01 00:20:00", "page": "y"},
                         {"user": "b", "cts": "2024-01-01 00:01:00", "page": "z"}])
    clicks.add_elements([{"user": "a", "cts": "2024-01-01 02:00:00", "page": "w"}])
    buys.add_elements([{"user": "a", "bts": "2024-01-01 00:05:00", "amount": 9.0}])
    buys.add_elements([{"user": "a", "bts": "2024-01-01 02:10:00", "amount": 1.0}])

    c = clicks.stream(spark, "user string, cts timestamp, page string") \
        .withWatermark("cts", "1 hour")
    b = buys.stream(spark, "user string, bts timestamp, amount double") \
        .withWatermark("bts", "1 hour")

    # purchase attributed to clicks in the 10 minutes before it
    joined = c.join(
        b,
        (c["user"] == b["user"]) & (b["bts"] >= c["cts"])
        & (b["bts"] <= c["cts"] + F.expr("interval 10 minutes")),
        "inner",
    ).select(c["user"], "page", "bts", "amount")

    got = sorted((r["user"], r["page"], r["amount"])
                 for r in read_bounded(joined, "append").collect())
    # only click x (00:00) is within 10 min of the 00:05 purchase;
    # click w (02:00) is within 10 min of the 02:10 purchase
    assert got == [("a", "w", 1.0), ("a", "x", 9.0)]


def test_interval_join_operator(spark, tmp_path):
    """First-class interval_join wrapper: same semantics as the manual
    condition, watermark enforcement built in."""
    from apache_beam_spark.streaming.joins import interval_join

    clicks = TestStream(str(tmp_path / "c2"))
    buys = TestStream(str(tmp_path / "b2"))
    clicks.add_elements([{"user": "a", "cts": "2024-01-01 00:00:00", "page": "x"},
                         {"user": "a", "cts": "2024-01-01 00:20:00", "page": "y"}])
    buys.add_elements([{"user": "a", "bts": "2024-01-01 00:05:00", "amount": 9.0}])
    c = clicks.stream(spark, "user string, cts timestamp, page string")
    b = buys.stream(spark, "user string, bts timestamp, amount double")
    out = interval_join(c, b, on="user", left_ts="cts", right_ts="bts",
                        lower="0 seconds", upper="10 minutes",
                        watermark_delay="1 hour")
    got = [(r["user"], r["page"], r["amount"])
           for r in read_bounded(out, "append").collect()]
    assert got == [("a", "x", 9.0)]


def test_interval_join_rejects_ambiguous_columns(spark, tmp_path):
    import pytest

    from apache_beam_spark.streaming.joins import interval_join

    s = TestStream(str(tmp_path / "amb"))
    s.add_elements([{"user": "a", "ts": "2024-01-01 00:00:00", "v": 1.0}])
    a = s.stream(spark, "user string, ts timestamp, v double")
    with pytest.raises(ValueError, match="ambiguous"):
        interval_join(a, a, on="user", left_ts="ts", right_ts="ts")
