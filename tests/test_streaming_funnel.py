from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from apache_beam_spark.operators.sequences import funnel_instances
from apache_beam_spark.streaming.sequences import streaming_funnel
from apache_beam_spark.streaming.sources import TestStream, read_bounded

SCHEMA = "event_id bigint, user_id bigint, ts bigint, event_type string"
M = 60_000_000  # one minute in µs
# keep minute-0 events strictly above the initial watermark (epoch 0):
# Spark's late-row filter drops rows AT the watermark boundary
BASE = 24 * 60 * M


def _stream_rows(spark, batches, **kw):
    ts = TestStream(tempfile.mkdtemp(prefix="sfunnel_"))
    for b in batches:
        ts.add_elements(b)
    sdf = streaming_funnel(ts.stream(spark, SCHEMA),
                           ["view", "click", "purchase"],
                           within_ms=30 * 60_000, **kw)
    return {tuple(r) for r in read_bounded(sdf).collect()}


def _ev(i, u, minutes, t):
    return {"event_id": i, "user_id": u, "ts": BASE + minutes * M,
            "event_type": t}


def test_stream_matches_batch_on_ordered_replay(spark):
    rows = [_ev(1, 1, 0, "view"), _ev(2, 1, 5, "click"),
            _ev(3, 1, 8, "click"), _ev(4, 1, 12, "purchase"),
            _ev(5, 2, 0, "view"), _ev(6, 2, 40, "click"),
            _ev(7, 2, 45, "purchase"),
            _ev(8, 3, 0, "view"), _ev(9, 3, 10, "view"),
            _ev(10, 3, 15, "click"), _ev(11, 3, 20, "purchase")]
    # batch twin on the same data (ts as µs longs)
    bdf = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["ts"], r["event_type"])
         for r in rows], SCHEMA)
    batch = {(r.user_id, r.v, r.c, r.p)
             for r in funnel_instances(
                 bdf.withColumn("ts", F.timestamp_micros("ts")),
                 ["view", "click", "purchase"], "30 minutes")
             .select("user_id",
                     F.unix_micros("view_ts").alias("v"),
                     F.unix_micros("click_ts").alias("c"),
                     F.unix_micros("purchase_ts").alias("p")).collect()}
    # streamed in three micro-batches with a day of allowed lateness
    # (the global watermark chases the fastest key; slower keys' events
    # must stay inside the bound), plus watermark-advancing tails
    # watermark-advancing tails must be STEP-typed: non-step events
    # are pruned at the scan and never reach the watermark node (a
    # lone view for an unrelated user emits nothing)
    got = _stream_rows(spark, [rows[:4], rows[4:8], rows[8:],
                               [_ev(98, 9, 3000, "view")],
                               [_ev(99, 9, 3001, "view")]],
                       lateness_ms=24 * 60 * 60_000)
    assert got == batch and len(got) == 3


def test_late_event_within_lateness_still_matches(spark):
    # click arrives one micro-batch AFTER the purchase, but within the
    # lateness bound -> buffered, re-ordered, chain completes
    batches = [
        [_ev(1, 7, 0, "view"), _ev(3, 7, 12, "purchase")],
        [_ev(2, 7, 5, "click")],
        [_ev(8, 8, 600, "view")],   # advances the global watermark
        [_ev(9, 8, 601, "view")],   # extra batch so the timeout fires
    ]
    got = _stream_rows(spark, batches, lateness_ms=60 * 60_000)
    assert got == {(7, BASE, BASE + 5 * M, BASE + 12 * M)}


def test_late_event_beyond_lateness_drops_chain(spark):
    batches = [
        [_ev(1, 7, 0, "view"), _ev(3, 7, 12, "purchase")],
        [_ev(8, 8, 600, "view")],   # watermark far ahead (lateness 0)
        [_ev(2, 7, 5, "click")],    # too late: behind the watermark
        [_ev(9, 8, 601, "view")],
    ]
    got = _stream_rows(spark, batches, lateness_ms=0)
    assert got == set()


def test_funnel_state_survives_restart(spark, tmp_path):
    """A view buffered before shutdown must still anchor a chain whose
    click/purchase only arrive after restart from the same checkpoint —
    the JSON state blob (buffer + open partials) is checkpointed."""
    import pandas as pd

    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pq_schema = "event_id long, user_id long, ts long, event_type string"

    def write(rows):
        (spark.createDataFrame(pd.DataFrame(rows))
         .coalesce(1).write.mode("append").parquet(spool))

    def run_once():
        sdf = streaming_funnel(
            spark.readStream.schema(pq_schema)
            .option("maxFilesPerTrigger", 1).parquet(spool),
            ["view", "click", "purchase"], within_ms=30 * 60_000,
            lateness_ms=24 * 60 * 60_000)
        q = (sdf.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    write([_ev(1, 4, 0, "view")])
    run_once()
    write([_ev(2, 4, 5, "click"), _ev(3, 4, 12, "purchase")])
    write([_ev(8, 9, 3000, "view")])
    write([_ev(9, 9, 3001, "view")])
    run_once()

    got = {(r.user_id, r.view_ts, r.click_ts, r.purchase_ts)
           for r in spark.read.parquet(out).collect()}
    assert got == {(4, BASE, BASE + 5 * M, BASE + 12 * M)}


def test_non_integral_key_raises(spark):
    import pytest
    df = spark.createDataFrame(
        [(1, "alice", BASE, "view")],
        "event_id bigint, user_id string, ts bigint, event_type string")
    with pytest.raises(TypeError, match="integral"):
        streaming_funnel(df, ["view", "click"], within_ms=60_000)


def test_sharded_matches_unsharded(spark):
    rows = [_ev(1, 1, 0, "view"), _ev(2, 1, 5, "click"),
            _ev(3, 1, 8, "click"), _ev(4, 1, 12, "purchase"),
            _ev(5, 2, 0, "view"), _ev(6, 2, 40, "click"),
            _ev(7, 2, 45, "purchase"),
            _ev(8, 3, 0, "view"), _ev(9, 3, 10, "view"),
            _ev(10, 3, 15, "click"), _ev(11, 3, 20, "purchase"),
            _ev(12, 4, 0, "view"), _ev(13, 4, 29, "purchase")]
    # across micro-batches (a day of lateness keeps batch 2's earlier
    # rows on time) plus watermark-advancing tails; one group (every
    # user in one state blob), three, and the default agree
    batches = [rows[:6], rows[6:], [_ev(98, 9, 3000, "view")],
               [_ev(99, 9, 3001, "view")]]
    day = 24 * 60 * 60_000
    one = _stream_rows(spark, batches, lateness_ms=day, n_shards=1)
    three = _stream_rows(spark, batches, lateness_ms=day, n_shards=3)
    default = _stream_rows(spark, batches, lateness_ms=day)
    assert one == three == default and len(one) > 0
