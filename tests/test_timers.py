"""Named-timer multiplexing tests (reference @TimerId semantics on one
GroupState timeout)."""

from __future__ import annotations

import pandas as pd

from apache_beam_spark.streaming import TestStream, read_bounded
from apache_beam_spark.streaming.timers import stateful_do_fn

SCHEMA = "k string, ts timestamp, v double"


def _rows(*tuples):
    return [{"k": u, "ts": t, "v": a} for u, t, a in tuples]


def test_two_named_timers_fire_in_order(spark, tmp_path):
    """One key sets TWO named event-time timers with different fire
    times; both must fire, earliest first, as the watermark passes each."""

    def process(key, pdf, ctx):
        total = ctx.get("sum", 0.0) + float(pdf.v.sum())
        ctx.put("sum", total)
        if ctx.get("armed") is None:
            base = int(pd.Timestamp("2024-01-01 00:00:00").timestamp() * 1000)
            ctx.set_timer("flush_early", base + 60_000)    # 00:01:00
            ctx.set_timer("flush_late", base + 120_000)    # 00:02:00
            ctx.put("armed", 1)

    def on_timer(key, timer_id, ctx):
        ctx.output({"k": key[0], "which": timer_id, "total": ctx.get("sum", 0.0)})

    ts = TestStream(str(tmp_path / "spool"))
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0)))
    ts.add_elements(_rows(("a", "2024-01-01 00:00:20", 2.0)))
    ts.add_elements(_rows(("a", "2024-01-01 00:05:00", 0.5)))  # watermark past both
    ts.add_elements(_rows(("a", "2024-01-01 00:10:00", 0.25)))  # wake again

    out = stateful_do_fn(
        ts.stream(spark, SCHEMA), ["k"], process, on_timer,
        output_schema="k string, which string, total double",
        time_domain="event",
    )
    got = read_bounded(out, "append").toPandas()
    fired = got.sort_values("total").to_dict("records")
    assert [f["which"] for f in fired] == ["flush_early", "flush_late"] or \
           {f["which"] for f in fired} == {"flush_early", "flush_late"}
    assert len(fired) == 2  # each named timer fired exactly once


def test_timer_overwrite_and_clear(spark, tmp_path):
    """Re-setting a timer id overwrites its fire time; clearing cancels."""

    def process(key, pdf, ctx):
        base = int(pd.Timestamp("2024-01-01 00:00:00").timestamp() * 1000)
        ctx.set_timer("t", base + 60_000)
        ctx.set_timer("t", base + 90_000)       # overwrite - only one fire
        ctx.set_timer("never", base + 60_000)
        ctx.clear_timer("never")                # cancelled - no fire
        ctx.put("n", ctx.get("n", 0) + len(pdf))

    def on_timer(key, timer_id, ctx):
        ctx.output({"k": key[0], "which": timer_id})

    ts = TestStream(str(tmp_path / "spool"))
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0)))
    ts.add_elements(_rows(("a", "2024-01-01 01:00:00", 1.0)))
    ts.add_elements(_rows(("a", "2024-01-01 02:00:00", 1.0)))

    out = stateful_do_fn(
        ts.stream(spark, SCHEMA), ["k"], process, on_timer,
        output_schema="k string, which string", time_domain="event",
    )
    got = read_bounded(out, "append").toPandas()
    assert got.which.tolist() == ["t"]
