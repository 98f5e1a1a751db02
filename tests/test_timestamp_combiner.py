"""TimestampCombiner realization (VERDICT r1 item 6) + Combine.groupedValues.

Reference: windowing/TimestampCombiner.java — the grouped output
element's timestamp is END_OF_WINDOW (default), EARLIEST (min input
ts) or LATEST (max input ts).  All three modes must be realized as an
actual output column, not just carried metadata.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from apache_beam_spark.pipeline import Pipeline
from apache_beam_spark.operators.combine import Combine
from apache_beam_spark.operators.grouping import GroupByKey
from apache_beam_spark.windowing import (
    EARLIEST,
    END_OF_WINDOW,
    LATEST,
    FixedWindows,
)


def _events(spark):
    rows = [("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 00:40:00", 2.0),
            ("b", "2024-01-01 00:20:00", 3.0)]
    return spark.createDataFrame(rows, "key string, raw string, value double") \
        .select("key", F.col("raw").cast("timestamp").alias("ts"), "value")


def _windowed(spark, mode):
    p = Pipeline(spark)
    pc = (p.from_df(_events(spark))
          .with_event_time("ts")
          .window_into(FixedWindows("1 hour"), timestamp_combiner=mode))
    return pc | Combine.per_key("key", F.count(F.lit(1)).alias("n"))


@pytest.mark.parametrize("mode,expect_a", [
    (END_OF_WINDOW, dt.datetime(2024, 1, 1, 1, 0, 0)),
    (EARLIEST, dt.datetime(2024, 1, 1, 0, 10, 0)),
    (LATEST, dt.datetime(2024, 1, 1, 0, 40, 0)),
])
def test_timestamp_combiner_modes(spark, mode, expect_a):
    out = {r["key"]: r["__event_time__"]
           for r in _windowed(spark, mode).df.collect()}
    assert out["a"] == expect_a
    # single-element key: all three modes coincide for b except END
    if mode == END_OF_WINDOW:
        assert out["b"] == dt.datetime(2024, 1, 1, 1, 0, 0)
    else:
        assert out["b"] == dt.datetime(2024, 1, 1, 0, 20, 0)


def test_output_timestamp_feeds_downstream_windowing(spark):
    """The realized output ts is the new event time: a second windowed
    aggregation keys off it without another with_event_time call."""
    agg = _windowed(spark, EARLIEST)
    again = agg | Combine.per_key("key", F.sum("n").alias("total"))
    rows = again.df.collect()
    assert {r["key"] for r in rows} == {"a", "b"}
    assert all(r["window"] is not None for r in rows)


def test_grouped_values_no_second_shuffle(spark):
    """Combine.groupedValues (Combine.java:2073): aggregate() HOF over
    the GBK bag — result equals a direct per-key sum and the plan has
    exactly ONE exchange (the GBK's)."""
    from apache_beam_spark.plans import plan_string

    p = Pipeline(spark)
    pc = p.from_df(_events(spark))
    gbk = pc.apply(GroupByKey(keys="key", value="value", alias="values"))
    gv = gbk.apply(Combine.grouped_values(
        "values", "total", zero=F.lit(0.0),
        merge=lambda acc, v: acc + v))
    got = {r["key"]: r["total"] for r in gv.df.collect()}
    assert got == {"a": 3.0, "b": 3.0}
    import re

    # AQE formatted plans carry Final + Initial copies; count exchange
    # nodes in the final tree only
    plan = plan_string(gv.df).split("Initial Plan")[0]
    assert len(re.findall(r"Exchange \(\d+\)", plan)) <= 1


def test_view_size_guard(spark):
    from apache_beam_spark.operators.views import View

    df = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert len(View.as_list(df)) == 50
    with pytest.raises(ValueError, match="broadcast join"):
        View.as_list(df, max_rows=10)
    with pytest.raises(ValueError, match="broadcast join"):
        View.as_map(df, "id", "v", max_rows=10)

    from apache_beam_spark.pipeline import Pipeline
    from apache_beam_spark.operators.join import side_input_map

    p = Pipeline(spark)
    pc = p.from_df(df)
    assert len(side_input_map(pc, "id", "v")) == 50
    with pytest.raises(ValueError, match="broadcast join"):
        side_input_map(pc, "id", "v", max_rows=10)


def test_streaming_watermark_hold_output_timestamps(spark, tmp_path):
    """VERDICT r2 item 8: the WatermarkHold output-timestamp contract
    on the GENERAL streaming windowed path — windowed_aggregate with
    timestamp_combiner EARLIEST/LATEST/END_OF_WINDOW emits the same
    realized __event_time__ a batch run produces (the hold is the
    min/max aggregate itself, computed inside the streaming agg)."""
    from apache_beam_spark.streaming import windowed_aggregate
    from apache_beam_spark.streaming.sources import TestStream
    from apache_beam_spark.streaming.sources import read_bounded
    from apache_beam_spark.windowing import OUTPUT_TS_COL

    schema = "key string, ts timestamp, value double"
    ts = TestStream(str(tmp_path / "hold_spool"))
    ts.add_elements([
        {"key": "a", "ts": "2024-01-01T00:10:00Z", "value": 1.0},
        {"key": "a", "ts": "2024-01-01T00:40:00Z", "value": 2.0},
        {"key": "b", "ts": "2024-01-01T00:20:00Z", "value": 3.0}])
    # a later batch advances the watermark past the first window's end
    ts.add_elements([{"key": "a", "ts": "2024-01-01T03:00:00Z", "value": 0.0}])

    expected = {
        EARLIEST: {"a": dt.datetime(2024, 1, 1, 0, 10), "b": dt.datetime(2024, 1, 1, 0, 20)},
        LATEST: {"a": dt.datetime(2024, 1, 1, 0, 40), "b": dt.datetime(2024, 1, 1, 0, 20)},
        END_OF_WINDOW: {"a": dt.datetime(2024, 1, 1, 1, 0), "b": dt.datetime(2024, 1, 1, 1, 0)},
    }
    for mode, expect in expected.items():
        sdf = windowed_aggregate(
            ts.stream(spark, schema), FixedWindows("1 hour"), "ts",
            aggs=[F.count(F.lit(1)).alias("n")], keys=["key"],
            allowed_lateness="0 seconds", timestamp_combiner=mode)
        assert OUTPUT_TS_COL in sdf.columns
        got = {r["key"]: r[OUTPUT_TS_COL]
               for r in read_bounded(sdf).collect()
               if r["window"].start.hour == 0}
        assert got == expect, mode

        # batch twin through the same code path agrees exactly
        batch = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1, 0, 10), 1.0),
             ("a", dt.datetime(2024, 1, 1, 0, 40), 2.0),
             ("b", dt.datetime(2024, 1, 1, 0, 20), 3.0)], schema)
        bout = windowed_aggregate(
            batch, FixedWindows("1 hour"), "ts",
            aggs=[F.count(F.lit(1)).alias("n")], keys=["key"],
            timestamp_combiner=mode)
        bgot = {r["key"]: r[OUTPUT_TS_COL] for r in bout.collect()}
        assert bgot == expect, mode


def test_combine_with_context_side_input(spark):
    """CombineWithContext (reference transforms/CombineWithContext.java):
    a combiner reading a side input — here the side value is a
    broadcast scalar column folded into the same single-shuffle
    aggregation (sum of deviations from the GLOBAL mean, per key)."""
    from apache_beam_spark.operators.views import View

    df = _events(spark)
    global_mean = View.as_singleton(
        df.agg(F.avg("value").alias("m")), "m")      # driver scalar, guarded
    out = {r["key"]: r["dev_sum"]
           for r in df.groupBy("key")
           .agg(F.sum(F.col("value") - F.lit(global_mean))
                .alias("dev_sum")).collect()}
    assert out["a"] == pytest.approx((1.0 - 2.0) + (2.0 - 2.0))
    assert out["b"] == pytest.approx(3.0 - 2.0)
