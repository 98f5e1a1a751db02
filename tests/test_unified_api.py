"""The Beam model's core claim, tested literally: ONE pipeline
definition runs on bounded and unbounded input with identical results
(the reference threads IsBounded through every runner translation; here
it's just ``df.isStreaming`` and the same operator code)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.operators.combine import Combine
from apache_beam_spark.pipeline import Pipeline
from apache_beam_spark.streaming import TestStream, read_bounded
from apache_beam_spark.windowing import FixedWindows

SCHEMA = "user string, ts timestamp, amount double"


def _the_pipeline(pcoll):
    """One definition: windowed per-user revenue. No batch/stream
    branches anywhere."""
    return (
        pcoll.with_event_time("ts")
        .window_into(FixedWindows("1 minute"), allowed_lateness="0 seconds")
        | Combine.per_key("user", F.sum("amount").alias("total"))
    )


def test_same_pipeline_bounded_and_unbounded(spark, tmp_path):
    rows = [("a", "2024-01-01 00:00:10", 1.0), ("b", "2024-01-01 00:00:20", 2.0),
            ("a", "2024-01-01 00:01:10", 3.0), ("a", "2024-01-01 00:02:30", 4.0)]
    spool = str(tmp_path / "spool")
    ts = TestStream(spool)
    for r in rows:
        ts.add_elements([{"user": r[0], "ts": r[1], "amount": r[2]}])
    ts.add_elements([{"user": "z", "ts": "2024-01-01 09:00:00", "amount": 0.0}])

    p = Pipeline(spark)

    bounded = _the_pipeline(p.from_df(spark.read.schema(SCHEMA).json(spool)))
    assert bounded.is_bounded
    unbounded = _the_pipeline(p.from_df(ts.stream(spark, SCHEMA)))
    assert not unbounded.is_bounded

    flat = lambda df: {(r["user"], str(r["window"]["start"])): r["total"]
                       for r in df.collect() if r["user"] != "z"}
    got_b = flat(bounded.df)
    got_s = flat(read_bounded(unbounded.df, "append"))
    assert got_b == got_s  # closed windows agree exactly
    assert len(got_b) == 4


def test_rate_stream_pipeline(spark):
    p = Pipeline(spark)
    pc = p.read_rate_stream(10)
    assert not pc.is_bounded
    out = pc.with_event_time("timestamp")
    assert out.event_time == "event_time"
    assert "event_time" in out.df.columns
