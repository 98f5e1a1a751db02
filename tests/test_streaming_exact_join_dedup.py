"""Pins for the `stream_join_exact` / `stream_dedup_exact` entries:
batch parity of the stream-stream interval join, watermark late-drop,
and the dropDuplicatesWithinWatermark re-emission contract that makes
the dedup entry's single-wave replay the correct oracle-able shape."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

M = 60_000_000  # one minute in µs
# offset all event times off epoch 0: Spark's INITIAL watermark is 0,
# and a row at exactly t=0 is treated as already-late by the join
# state (verified by execution) — real data never sits on the epoch
T0 = 24 * 60 * M


def _spool(rows_per_batch):
    from apache_beam_spark.streaming.sources import TestStream

    ts = TestStream(tempfile.mkdtemp(prefix="t_sexact_"))
    for rows in rows_per_batch:
        ts.add_elements(rows)
    return ts


def _run(spark, sdf, parts="4"):
    """Drain with read_bounded: one spool file per micro-batch (the
    TestStream contract), so the watermark advances between waves."""
    from apache_beam_spark.streaming.sources import read_bounded

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        return read_bounded(sdf)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _join_streams(spark, ts):
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
    return v.join(
        p, (F.col("v_user") == F.col("p_user"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("interval 1 hour")),
        "inner")


def test_stream_interval_join_matches_batch(spark):
    rows = []
    eid = 0
    for u in range(4):
        for k in range(5):
            eid += 1
            rows.append({"event_id": eid, "user_id": u,
                         "tus": T0 + k * 20 * M + u * M, "event_type": "view"})
            eid += 1
            rows.append({"event_id": eid, "user_id": u,
                         "tus": T0 + k * 20 * M + u * M + 7 * M,
                         "event_type": "purchase"})
    tail = [{"event_id": 9001, "user_id": 999, "tus": 10**15,
             "event_type": "view"},
            {"event_id": 9002, "user_id": 999, "tus": 10**15,
             "event_type": "purchase"}]
    out = _run(spark, _join_streams(spark, _spool([rows, tail])))
    got = sorted((r["view_id"], r["purchase_id"])
                 for r in out.filter(F.col("v_user") < 999).collect())

    df = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["tus"], r["event_type"])
         for r in rows],
        "event_id bigint, user_id bigint, tus bigint, event_type string")
    v = df.filter(F.col("event_type") == "view") \
          .select(F.col("user_id").alias("u"),
                  F.col("event_id").alias("vid"), F.col("tus").alias("vt"))
    p = df.filter(F.col("event_type") == "purchase") \
          .select(F.col("user_id").alias("pu"),
                  F.col("event_id").alias("pid"), F.col("tus").alias("pt"))
    want = sorted(
        (r["vid"], r["pid"]) for r in v.join(
            p, (F.col("u") == F.col("pu")) & (F.col("pt") >= F.col("vt"))
            & (F.col("pt") <= F.col("vt") + 3600 * 1_000_000)).collect())
    assert got == want and len(got) >= 20


def test_stream_interval_join_drops_late_side_input(spark):
    """A view older than watermark - delay when it arrives is dropped
    by the join state (the documented watermark contract): the pair it
    would have completed is NOT emitted."""
    wave1 = [{"event_id": 1, "user_id": 1, "tus": T0, "event_type":
              "purchase"},
             {"event_id": 2, "user_id": 2, "tus": T0 + 100 * M,
              "event_type": "view"},
             {"event_id": 3, "user_id": 2, "tus": T0 + 100 * M + M,
              "event_type": "purchase"}]
    # watermark after wave1 = T0+101m - 10m, but Spark applies it with
    # a ONE-BATCH lag (see tests/test_streaming.py's late-data pin), so
    # a spacer wave sits between the jump and the late element
    spacer = [{"event_id": 5, "user_id": 3, "tus": T0 + 102 * M,
               "event_type": "view"}]
    late = [{"event_id": 4, "user_id": 1, "tus": T0, "event_type": "view"}]
    tail = [{"event_id": 9001, "user_id": 999, "tus": 10**15,
             "event_type": "view"}]
    out = _run(spark,
               _join_streams(spark, _spool([wave1, spacer, late, tail])))
    got = sorted((r["view_id"], r["purchase_id"])
                 for r in out.filter(F.col("v_user") < 999).collect())
    assert got == [(2, 3)]  # the late view's (4, 1) pair never forms


def test_stream_dedup_drops_in_wave_duplicates(spark):
    from apache_beam_spark.streaming.stateful import streaming_distinct

    rows = [{"event_id": i % 5, "tus": T0 + i * M} for i in range(20)]
    tail = [{"event_id": 9001, "tus": 10**15}]
    ts = _spool([rows, tail])
    sdf = streaming_distinct(
        ts.stream(spark, "event_id bigint, tus bigint")
        .select("event_id", F.timestamp_micros("tus").alias("ts")),
        ["event_id"], "ts", within="30 minutes")
    out = _run(spark, sdf)
    got = sorted(r["event_id"]
                 for r in out.filter(F.col("event_id") < 9001).collect())
    assert got == [0, 1, 2, 3, 4]


def test_stream_dedup_reemits_after_watermark_eviction(spark):
    """dropDuplicatesWithinWatermark contract: a duplicate arriving
    AFTER its key's state was evicted by the watermark is re-emitted —
    the reason stream_dedup_exact replays in ONE wave (global distinct,
    SQL-expressible) rather than spreading duplicates across waves."""
    from apache_beam_spark.streaming.stateful import streaming_distinct

    wave1 = [{"event_id": 7, "tus": T0}]
    # advances watermark far past T0 + 30m: key 7's state evicts (the
    # one-batch watermark lag means the eviction lands after the
    # spacer wave, not immediately)
    wave2 = [{"event_id": 8, "tus": T0 + 10 * 3600 * M}]
    spacer = [{"event_id": 9, "tus": T0 + 10 * 3600 * M + M}]
    wave3 = [{"event_id": 7, "tus": T0 + 10 * 3600 * M + 2 * M}]
    tail = [{"event_id": 9001, "tus": 10**15}]
    ts = _spool([wave1, wave2, spacer, wave3, tail])
    sdf = streaming_distinct(
        ts.stream(spark, "event_id bigint, tus bigint")
        .select("event_id", F.timestamp_micros("tus").alias("ts")),
        ["event_id"], "ts", within="30 minutes")
    out = _run(spark, sdf)
    got = sorted(r["event_id"]
                 for r in out.filter(F.col("event_id") < 9001).collect())
    assert got == [7, 7, 8, 9]


def test_stream_dedup_exact_removes_its_spool(spark, duck, tmp_path,
                                              monkeypatch):
    """The replay harness spools into the temp dir and removes the
    spool after the drain: the entry still answers with the oracle's
    row count and leaves nothing behind."""
    import __spark_entry__ as e

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = e.queries()["stream_dedup_exact"](spark, "/root/testdata/sf0.001")
    want = len(duck.execute(e.oracle_sql()["stream_dedup_exact"]).fetchdf())
    assert got.count() == want > 0
    assert list(tmp_path.iterdir()) == []
