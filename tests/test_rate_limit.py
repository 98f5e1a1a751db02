"""Per-key event-time rate limiting: batch twin semantics and
streaming/batch parity."""

from __future__ import annotations

from apache_beam_spark.streaming.stateful import (
    rate_limit_batch,
    streaming_rate_limit,
)
from apache_beam_spark.streaming.sources import TestStream
from apache_beam_spark.streaming.windowed import run_to_memory

SCHEMA = "user string, ts timestamp, event_id long"


def _rows():
    # user a: 5 events in window 0, 1 event in window 1; user b: 2 events
    return [
        {"user": "a", "ts": "2024-01-01T00:00:10Z", "event_id": 1},
        {"user": "a", "ts": "2024-01-01T00:00:20Z", "event_id": 2},
        {"user": "a", "ts": "2024-01-01T00:00:20Z", "event_id": 3},  # ts tie
        {"user": "a", "ts": "2024-01-01T00:00:40Z", "event_id": 4},
        {"user": "a", "ts": "2024-01-01T00:00:50Z", "event_id": 5},
        {"user": "a", "ts": "2024-01-01T00:01:10Z", "event_id": 6},
        {"user": "b", "ts": "2024-01-01T00:00:30Z", "event_id": 7},
        {"user": "b", "ts": "2024-01-01T00:00:31Z", "event_id": 8},
    ]


def _batch_df(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(r["user"], r["ts"].replace("Z", ""), r["event_id"])
         for r in _rows()], "user string, raw string, event_id long")
    return df.select("user", F.to_timestamp("raw").alias("ts"), "event_id")


def test_rate_limit_batch_semantics(spark):
    out = rate_limit_batch(_batch_df(spark), key="user", event_time="ts",
                           id_col="event_id", window_ms=60_000,
                           max_per_window=3)
    admitted = sorted(r["event_id"] for r in out.collect())
    # a window 0: ids 1,2,3 admitted (ts tie broken by id), 4,5 dropped;
    # a window 1: id 6; b: both
    assert admitted == [1, 2, 3, 6, 7, 8]
    seqs = {r["event_id"]: r["seq"] for r in out.collect()}
    assert seqs[1] == 1 and seqs[3] == 3 and seqs[6] == 1


def test_streaming_matches_batch(spark, tmp_path):
    ts = TestStream(str(tmp_path / "rl"))
    rows = _rows()
    ts.add_elements(rows[:4])     # split across micro-batches, in order
    ts.add_elements(rows[4:])
    sdf = streaming_rate_limit(ts.stream(spark, SCHEMA), key="user",
                               event_time="ts", id_col="event_id",
                               window_ms=60_000, max_per_window=3)
    got = sorted(
        (r["user"], r["event_id"], r["win_start_ms"], r["seq"])
        for r in run_to_memory(sdf).collect())
    exp = sorted(
        (r["user"], r["event_id"], r["win_start_ms"], r["seq"])
        for r in rate_limit_batch(
            _batch_df(spark), key="user", event_time="ts",
            id_col="event_id", window_ms=60_000,
            max_per_window=3).collect())
    assert got == exp


def test_streaming_quota_spans_micro_batches(spark, tmp_path):
    """The bucket count persists in state: a key exhausting its window
    quota in batch 1 admits nothing more for that window in batch 2."""
    ts = TestStream(str(tmp_path / "rl2"))
    ts.add_elements([{"user": "a", "ts": f"2024-01-01T00:00:{s:02d}Z",
                      "event_id": s} for s in (1, 2, 3)])
    ts.add_elements([{"user": "a", "ts": "2024-01-01T00:00:30Z",
                      "event_id": 30}])
    sdf = streaming_rate_limit(ts.stream(spark, SCHEMA), key="user",
                               event_time="ts", id_col="event_id",
                               window_ms=60_000, max_per_window=3)
    admitted = sorted(r["event_id"] for r in run_to_memory(sdf).collect())
    assert admitted == [1, 2, 3]


def test_sharded_matches_unsharded(spark, tmp_path):
    """The key-group count changes no admitted row: one group (every
    key in one state blob), three, and the default agree with each
    other and with the batch twin, across a micro-batch boundary."""
    rows = _rows()

    def run(shards):
        t = TestStream(str(tmp_path / f"rls_{shards}"))
        t.add_elements(rows[:4])
        t.add_elements(rows[4:])
        kw = {} if shards is None else {"n_shards": shards}
        sdf = streaming_rate_limit(t.stream(spark, SCHEMA), key="user",
                                   event_time="ts", id_col="event_id",
                                   window_ms=60_000, max_per_window=3,
                                   **kw)
        return sorted((r["user"], r["event_id"], r["win_start_ms"],
                       r["seq"]) for r in run_to_memory(sdf).collect())

    batch = sorted(
        (r["user"], r["event_id"], r["win_start_ms"], r["seq"])
        for r in rate_limit_batch(
            _batch_df(spark), key="user", event_time="ts",
            id_col="event_id", window_ms=60_000,
            max_per_window=3).collect())
    assert run(1) == run(3) == run(None) == batch
