"""TZ-aware calendar windows (reference CalendarWindows.withTimeZone)
and a LeaderBoard-style streaming integration test (the reference's
canonical streaming example, examples/java8 game pipelines)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.streaming import TestStream, read_bounded, windowed_aggregate
from apache_beam_spark.windowing import CalendarWindows, FixedWindows


def test_calendar_day_timezone_boundary(spark):
    # 2024-01-31 20:00 UTC is already Feb 1 in Sydney (+11)
    df = spark.createDataFrame([("2024-01-31 20:00:00",)], ["raw"]) \
        .select(F.col("raw").cast("timestamp").alias("ts"))

    utc = df.select(*CalendarWindows("month").window_cols("ts")).first()["window"]
    syd = df.select(*CalendarWindows("month", tz="Australia/Sydney")
                    .window_cols("ts")).first()["window"]

    assert str(utc["start"]) == "2024-01-01 00:00:00"
    # Sydney's February starts 2024-01-31 13:00 UTC
    assert str(syd["start"]) == "2024-01-31 13:00:00"
    assert str(syd["end"]) == "2024-02-29 13:00:00"  # leap February, tz-shifted


def test_calendar_window_contains_its_timestamp(spark):
    from apache_beam_spark.testing import check_window_fn_laws

    check_window_fn_laws(CalendarWindows("month", tz="America/New_York"),
                         ["2024-03-01 02:00:00", "2024-12-31 23:59:59"], spark)


def test_leaderboard_stream(spark, tmp_path):
    """LeaderBoard (examples/java8/.../game/LeaderBoard.java): windowed
    team scores over a stream, on-time pane + late-but-allowed update,
    update output mode (the early/speculative pane path)."""
    ts = TestStream(str(tmp_path / "spool"))
    ts.add_elements([{"team": "red", "ts": "2024-01-01 00:00:10", "score": 3},
                     {"team": "blue", "ts": "2024-01-01 00:00:20", "score": 5}])
    ts.add_elements([{"team": "red", "ts": "2024-01-01 00:00:40", "score": 2}])
    # watermark jumps past the window; late-but-within-lateness red event
    ts.add_elements([{"team": "blue", "ts": "2024-01-01 00:30:00", "score": 1}])
    ts.add_elements([{"team": "red", "ts": "2024-01-01 00:00:55", "score": 10}])

    sdf = windowed_aggregate(
        ts.stream(spark, "team string, ts timestamp, score long"),
        FixedWindows("1 minute"), "ts",
        aggs=[F.sum("score").alias("points")], keys=["team"],
        allowed_lateness="2 hours",   # generous: late red event is allowed
    )
    got = read_bounded(sdf, "update")
    first_window = got.filter(F.col("window.start") == "2024-01-01 00:00:00")
    per_team_final = (first_window.groupBy("team")
                      .agg(F.max("points").alias("final")).collect())
    final = {r["team"]: r["final"] for r in per_team_final}
    # red: 3+2 on time, +10 late-but-allowed refinement = 15
    assert final == {"red": 15, "blue": 5}
    # update mode emitted the refinement as an extra pane for red
    red_panes = first_window.filter(F.col("team") == "red").count()
    assert red_panes >= 2


def test_merging_windowfn_matches_session_window(spark):
    """Custom merging WindowFn with a constant gap must reproduce
    Spark's native session_window exactly (inclusive merge at the gap
    boundary included)."""
    from pyspark.sql import functions as F

    from apache_beam_spark.windowing import MergingWindows

    rows = [("a", 0), ("a", 500), ("a", 1100), ("a", 1700),  # chain merges
            ("a", 4000),                                     # new session
            ("b", 0), ("b", 601),                            # gap > 600 -> split
            ("b", 1201)]                                     # exactly gap from 601 -> merges
    df = spark.createDataFrame(rows, "k string, sec long") \
        .select("k", F.timestamp_seconds("sec").alias("ts"))

    native = (df.groupBy(F.session_window("ts", "10 minutes").alias("w"), "k")
              .agg(F.count(F.lit(1)).alias("n"))
              .select("k", F.col("w.start").alias("start"), "n"))

    fn = MergingWindows(assign=lambda ts: (ts, ts + F.expr("INTERVAL 10 MINUTES")))
    custom = (fn.apply(df, ["k"], "ts")
              .groupBy("k", "window").agg(F.count(F.lit(1)).alias("n"))
              .select("k", F.col("window.start").alias("start"), "n"))

    assert sorted(map(tuple, native.collect())) == sorted(map(tuple, custom.collect()))


def test_merging_windowfn_variable_gap(spark):
    """What session_window can't express: a per-element gap (longer for
    'slow' event types) — arbitrary user merge logic."""
    from pyspark.sql import functions as F

    from apache_beam_spark.windowing import MergingWindows

    rows = [("a", 0, "fast"), ("a", 90, "fast"),    # 60s gap: 90 > 0+60 -> split
            ("b", 0, "slow"), ("b", 90, "slow")]    # 300s gap: merge
    df = spark.createDataFrame(rows, "k string, sec long, speed string") \
        .select("k", F.timestamp_seconds("sec").alias("ts"), "speed")
    gap = F.when(F.col("speed") == "slow", F.expr("INTERVAL 300 SECONDS")) \
        .otherwise(F.expr("INTERVAL 60 SECONDS"))
    fn = MergingWindows(assign=lambda ts: (ts, ts + gap))
    out = (fn.apply(df, ["k"], "ts")
           .groupBy("k", "window").agg(F.count(F.lit(1)).alias("n")))
    counts = sorted((r["k"], r["n"]) for r in out.collect())
    assert counts == [("a", 1), ("a", 1), ("b", 2)]


def test_merging_windowfn_rejects_group_col_use(spark):
    import pytest
    from pyspark.sql import functions as F

    from apache_beam_spark.windowing import MergingWindows

    fn = MergingWindows(assign=lambda ts: (ts, ts))
    with pytest.raises(ValueError, match="merging WindowFn"):
        fn.window_cols("ts")
