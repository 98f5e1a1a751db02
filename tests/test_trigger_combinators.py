"""Composite trigger combinator transcripts (VERDICT r1 item 5).

Pane sequences checked against reference semantics:
``Repeatedly.java:37``, ``OrFinallyTrigger.java:31``,
``AfterEach.java:45``, ``AfterFirst.java:33``, ``AfterAll.java:32``,
``Never.java:32``, ``AfterWatermark.java`` early/late firings,
``AfterProcessingTime.java:49``.  The machines are pure state over
JSON-safe dicts; the last test drives one end-to-end through
``applyInPandasWithState``.
"""

from __future__ import annotations

import pandas as pd
import pytest

from apache_beam_spark.streaming.trigger_machine import (
    AfterAll,
    AfterEach,
    AfterFirst,
    AfterPane,
    AfterProcessingTime,
    AfterWatermark,
    Never,
    OrFinally,
    Repeatedly,
    run_transcript,
)

E = lambda v: ("element", v)
W = lambda ms: ("watermark", ms)
P = lambda ms: ("ptime", ms)
END = 1000  # window end for all transcripts


def panes(result):
    return [(p["timing"], p["values"]) for p in result["panes"]]


def test_repeatedly_after_pane_never_finishes():
    r = run_transcript(Repeatedly(AfterPane(3)), END,
                       [E(1), E(2), E(3), E(4), E(5), E(6), E(7)])
    assert panes(r) == [("EARLY", [1, 2, 3]), ("EARLY", [1, 2, 3, 4, 5, 6])]
    assert not r["closed"] and r["dropped"] == []


def test_repeatedly_discarding_panes():
    r = run_transcript(Repeatedly(AfterPane(2)), END,
                       [E(1), E(2), E(3), E(4)], accumulating=False)
    assert panes(r) == [("EARLY", [1, 2]), ("EARLY", [3, 4])]


def test_or_finally_watermark_closes_window():
    """Repeatedly(AfterPane(2)).orFinally(AfterWatermark): count panes
    until the watermark passes the window end, which fires one final
    ON_TIME pane and closes the window — later elements dropped."""
    trig = Repeatedly(AfterPane(2)).or_finally(AfterWatermark())
    r = run_transcript(trig, END, [E(1), E(2), E(3), W(END), E(9)])
    assert panes(r) == [("EARLY", [1, 2]), ("ON_TIME", [1, 2, 3])]
    assert r["closed"] and r["dropped"] == [9]


def test_after_pane_alone_fires_once_then_closes():
    r = run_transcript(AfterPane(2), END, [E(1), E(2), E(3)])
    assert panes(r) == [("EARLY", [1, 2])]
    assert r["closed"] and r["dropped"] == [3]


def test_after_watermark_early_firings():
    trig = AfterWatermark(early=AfterPane(2))
    r = run_transcript(trig, END, [E(1), E(2), E(3), E(4), W(END), E(9)])
    assert panes(r) == [("EARLY", [1, 2]), ("EARLY", [1, 2, 3, 4]),
                        ("ON_TIME", [1, 2, 3, 4])]
    assert r["closed"] and r["dropped"] == [9]  # no late firings declared


def test_after_watermark_late_firings():
    trig = AfterWatermark(early=AfterPane(10), late=AfterPane(1))
    r = run_transcript(trig, END, [E(1), W(END), E(2), E(3)])
    assert panes(r) == [("ON_TIME", [1]), ("LATE", [1, 2]), ("LATE", [1, 2, 3])]
    assert not r["closed"]


def test_after_each_in_order():
    trig = AfterEach(AfterPane(2), AfterPane(3))
    r = run_transcript(trig, END, [E(1), E(2), E(3), E(4), E(5), E(6)])
    # fires after 2 elements, then after 3 MORE, then finishes
    assert panes(r) == [("EARLY", [1, 2]), ("EARLY", [1, 2, 3, 4, 5])]
    assert r["closed"] and r["dropped"] == [6]


def test_after_first_any_sub_fires():
    trig = AfterFirst(AfterPane(5), AfterWatermark())
    r = run_transcript(trig, END, [E(1), W(END)])
    assert panes(r) == [("ON_TIME", [1])]
    assert r["closed"]
    r2 = run_transcript(AfterFirst(AfterPane(2), AfterWatermark()), END,
                        [E(1), E(2)])
    assert panes(r2) == [("EARLY", [1, 2])]


def test_after_all_requires_every_sub():
    trig = AfterAll(AfterPane(2), AfterWatermark())
    r = run_transcript(trig, END, [E(1), E(2), E(3), W(END)])
    # count satisfied at 2 elements but watermark not yet past: no pane
    assert panes(r) == [("ON_TIME", [1, 2, 3])]
    assert r["closed"]


def test_never_only_buffers():
    r = run_transcript(Never(), END, [E(1), W(END), E(2)])
    assert panes(r) == [] and not r["closed"]


def test_after_processing_time_delay():
    trig = Repeatedly(AfterProcessingTime(100))
    r = run_transcript(trig, END, [P(0), E(1), E(2), P(50), P(100), E(3), P(250)])
    # target = first element ptime (0) + 100 -> fires at P(100); next
    # pane's first element at ptime 100 -> target 200 -> fires at P(250)
    assert panes(r) == [("EARLY", [1, 2]), ("EARLY", [1, 2, 3])]


def test_interval_ms_parses_watermark_delay_strings():
    from apache_beam_spark.streaming.triggers import interval_ms

    assert interval_ms("0 seconds") == 0
    assert interval_ms("500 milliseconds") == 500
    assert interval_ms("10 minutes") == 600_000
    assert interval_ms("32 days") == 32 * 86_400_000
    assert interval_ms("1 week") == 7 * 86_400_000
    assert interval_ms("1.5 hours") == 5_400_000
    with pytest.raises(ValueError, match="unit"):
        interval_ms("10 fortnights")
    with pytest.raises(ValueError, match="expected"):
        interval_ms("10")


def test_machine_state_json_roundtrips():
    import json

    trig = Repeatedly(AfterPane(2)).or_finally(AfterWatermark())
    s = trig.new_state()
    from apache_beam_spark.streaming.trigger_machine import TriggerContext

    ctx = TriggerContext(-1, 0, END)
    trig.on_element(s, ctx)
    s2 = json.loads(json.dumps(s))
    trig.on_element(s2, ctx)
    assert trig.should_fire(s2, ctx)


def test_triggered_windowed_sum_end_to_end(spark, tmp_path):
    """Repeatedly(AfterPane(2)).orFinally(AfterWatermark) through the
    real stateful operator: early pane per 2 elements, on-time pane
    when the watermark passes the window end (fired by the window-end
    timer, not by new data for that window)."""
    from apache_beam_spark.streaming import TestStream, run_to_memory
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum

    rows1 = [{"user": "a", "ts": "2024-01-01 00:00:10", "amount": 1.0},
             {"user": "a", "ts": "2024-01-01 00:00:20", "amount": 2.0},
             {"user": "a", "ts": "2024-01-01 00:00:30", "amount": 3.0}]
    # second batch far past the first window: advances the watermark
    rows2 = [{"user": "b", "ts": "2024-01-01 01:00:00", "amount": 9.0}]
    ts = TestStream(str(tmp_path / "spool"))
    ts.add_elements(rows1)
    ts.add_elements(rows2)
    trig = Repeatedly(AfterPane(2)).or_finally(AfterWatermark())
    out = triggered_windowed_sum(
        ts.stream(spark, "user string, ts timestamp, amount double"),
        key="user", value_col="amount", window_size="1 minute", trigger=trig)
    got = run_to_memory(out, "append").toPandas()
    a = got[got.key == "a"].sort_values("pane_index")
    assert a.timing.tolist() == ["EARLY", "ON_TIME"]
    assert a.total.tolist() == [3.0, 6.0]
    assert a.pane_index.tolist() == [0, 1]
    # full PaneInfo: first flag, last flag on the closing pane, and the
    # non-speculative index (-1 for the early pane, 0 for on-time)
    assert a.is_first.tolist() == [True, False]
    assert a.is_last.tolist() == [False, True]
    assert a.on_time_index.tolist() == [-1, 0]


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_triggered_windowed_sum_event_time_types(spark, tmp_path, ts_type):
    """Both event-time types give the same panes: a TIMESTAMP_NTZ
    column (the documents/events fixtures' type) is read as UTC wall
    clock, like the engine's UTC session reads TIMESTAMP."""
    from apache_beam_spark.streaming import TestStream, run_to_memory
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum

    ts = TestStream(str(tmp_path / f"spool_{ts_type}"))
    ts.add_elements([{"user": "a", "ts": f"2024-01-01 00:00:{s:02d}",
                      "amount": float(s)} for s in (10, 20, 30)])
    ts.add_elements([{"user": "b", "ts": "2024-01-01 01:00:00",
                      "amount": 9.0}])
    out = triggered_windowed_sum(
        ts.stream(spark, f"user string, ts {ts_type}, amount double"),
        key="user", value_col="amount", window_size="1 minute",
        trigger=Repeatedly(AfterPane(2)).or_finally(AfterWatermark()),
        order_by=["ts", "amount"])
    got = run_to_memory(out, "append").toPandas()
    a = got[got.key == "a"].sort_values("pane_index")
    base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
    assert a.window_end_ms.tolist() == [base + 60_000] * 2
    assert a.pane_ts_ms.tolist() == [base + 60_000] * 2
    assert a.timing.tolist() == ["EARLY", "ON_TIME"]
    assert a.total.tolist() == [30.0, 60.0]


def test_window_expiry_fires_pending_pane(spark, tmp_path):
    """ReduceFnRunner.onGarbageCollection (ReduceFnRunner.java:775-783):
    at window expiry an UNFINISHED trigger emits its pending pane iff
    non-empty (default ClosingBehavior.FIRE_IF_NON_EMPTY) with
    is_last=true — count-only triggers are not silently lossy.

    AfterEach(AfterPane(2), AfterPane(3)) over three windows:
      * key a, 4 elements: EARLY pane at element 2, then the 2-element
        remainder surfaces as the expiry pane (index 1, ON_TIME);
      * key c, 1 element: never fireable — the expiry pane carries it;
      * key d, exactly 2 elements: pane 0 fires, the pending pane is
        EMPTY at expiry -> nothing further (FIRE_IF_NON_EMPTY).
    """
    from apache_beam_spark.streaming import TestStream, run_to_memory
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum

    rows1 = ([{"user": "a", "ts": f"2024-01-01 00:00:{s:02d}",
               "amount": float(v)} for s, v in
              [(10, 1), (20, 2), (30, 4), (40, 8)]]
             + [{"user": "c", "ts": "2024-01-01 00:00:15", "amount": 5.0}]
             + [{"user": "d", "ts": "2024-01-01 00:00:25", "amount": 6.0},
                {"user": "d", "ts": "2024-01-01 00:00:35", "amount": 7.0}])
    rows2 = [{"user": "zz", "ts": "2024-01-01 01:00:00", "amount": 0.0}]
    ts = TestStream(str(tmp_path / "spool_gc"))
    ts.add_elements(rows1)
    ts.add_elements(rows2)
    trig = AfterEach(AfterPane(2), AfterPane(3))
    out = triggered_windowed_sum(
        ts.stream(spark, "user string, ts timestamp, amount double"),
        key="user", value_col="amount", window_size="1 minute",
        trigger=trig, order_by=["ts", "amount"])
    got = run_to_memory(out, "append").toPandas()
    a = got[got.key == "a"].sort_values("pane_index")
    assert a.timing.tolist() == ["EARLY", "ON_TIME"]
    assert a.total.tolist() == [3.0, 15.0]
    assert a.n_in_pane.tolist() == [2, 2]
    assert a.is_last.tolist() == [False, True]
    assert a.on_time_index.tolist() == [-1, 0]
    c = got[got.key == "c"]
    assert (c.timing.tolist() == ["ON_TIME"] and c.total.tolist() == [5.0]
            and c.is_first.tolist() == [True] and c.is_last.tolist() == [True]
            and c.n_in_pane.tolist() == [1])
    d = got[got.key == "d"]
    assert d.timing.tolist() == ["EARLY"] and d.total.tolist() == [13.0]


def test_closing_and_ontime_behaviors(spark, tmp_path):
    """Window.withClosingBehavior(FIRE_ALWAYS) emits the expiry pane
    even when EMPTY (n_in_pane=0, accumulated total);
    Window.withOnTimeBehavior(FIRE_IF_NON_EMPTY) suppresses an empty
    watermark-crossing pane while the trigger still finishes."""
    from apache_beam_spark.streaming import TestStream, run_to_memory
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum

    rows1 = [{"user": "a", "ts": "2024-01-01 00:00:10", "amount": 1.0},
             {"user": "a", "ts": "2024-01-01 00:00:20", "amount": 2.0}]
    rows2 = [{"user": "zz", "ts": "2024-01-01 01:00:00", "amount": 0.0}]

    def run(trig, **kw):
        ts = TestStream(str(tmp_path / f"spool_{len(kw)}_{kw and list(kw)[0]}"))
        ts.add_elements(rows1)
        ts.add_elements(rows2)
        out = triggered_windowed_sum(
            ts.stream(spark, "user string, ts timestamp, amount double"),
            key="user", value_col="amount", window_size="1 minute",
            trigger=trig, order_by=["ts", "amount"], **kw)
        got = run_to_memory(out, "append").toPandas()
        return got[got.key == "a"].sort_values("pane_index")

    # FIRE_ALWAYS: count-2 pane empties the pending pane, yet expiry
    # still fires an EMPTY final pane with the accumulated total
    a = run(Repeatedly(AfterPane(2)), closing_behavior="fire_always")
    assert a.timing.tolist() == ["EARLY", "ON_TIME"]
    assert a.n_in_pane.tolist() == [2, 0]
    assert a.total.tolist() == [3.0, 3.0]
    assert a.is_last.tolist() == [False, True]

    # OnTime FIRE_IF_NON_EMPTY: the empty on-time pane of an exactly-
    # divided window is suppressed — only the EARLY pane remains
    b = run(AfterWatermark(early=AfterPane(2)),
            on_time_behavior="fire_if_non_empty")
    assert b.timing.tolist() == ["EARLY"]
    assert b.n_in_pane.tolist() == [2]


def test_pane_output_timestamp_holds(spark, tmp_path):
    """WatermarkHold-style pane timestamps: with
    timestamp_combiner='earliest' each pane carries the min event time
    of its own elements (the hold the reference keeps in WatermarkHold
    state), not the window end."""
    from apache_beam_spark.streaming import TestStream, run_to_memory
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum

    rows1 = [{"user": "a", "ts": "2024-01-01 00:00:10", "amount": 1.0},
             {"user": "a", "ts": "2024-01-01 00:00:20", "amount": 2.0},
             {"user": "a", "ts": "2024-01-01 00:00:30", "amount": 3.0},
             {"user": "a", "ts": "2024-01-01 00:00:40", "amount": 4.0}]
    rows2 = [{"user": "b", "ts": "2024-01-01 01:00:00", "amount": 9.0}]
    ts = TestStream(str(tmp_path / "spool_hold"))
    ts.add_elements(rows1)
    ts.add_elements(rows2)
    trig = Repeatedly(AfterPane(2))
    out = triggered_windowed_sum(
        ts.stream(spark, "user string, ts timestamp, amount double"),
        key="user", value_col="amount", window_size="1 minute",
        trigger=trig, timestamp_combiner="earliest")
    got = run_to_memory(out, "append").toPandas()
    a = got[got.key == "a"].sort_values("pane_index")
    base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
    # pane 0 holds min ts of elements 1-2 (00:00:10); pane 1 of 3-4
    assert a.pane_ts_ms.tolist() == [base + 10_000, base + 30_000]


def test_triggered_sum_order_by_pins_pane_composition(spark, tmp_path):
    """``order_by`` (the stream_trigger_exact determinism contract):
    elements spooled in scrambled order are re-ordered per micro-batch
    by (ts, amount) before the machine sees them, so pane composition
    is a pure prefix function of the sorted stream — including the
    exactly-divisible case, where the ON_TIME pane is EMPTY
    (n_in_pane=0) but still fires with the full accumulated total
    (AfterWatermark fires the on-time pane unconditionally,
    AfterWatermark.java:109)."""
    from apache_beam_spark.streaming import TestStream, run_to_memory
    from apache_beam_spark.streaming.triggers import triggered_windowed_sum

    # 4 elements, spooled in reverse arrival order; fire_every=2
    # divides evenly -> 2 EARLY panes + an empty ON_TIME pane
    rows1 = [{"user": "a", "ts": f"2024-01-01 00:00:{s:02d}", "amount": a}
             for s, a in [(40, 8.0), (30, 4.0), (20, 2.0), (10, 1.0)]]
    rows2 = [{"user": "b", "ts": "2024-01-01 01:00:00", "amount": 9.0}]
    ts = TestStream(str(tmp_path / "spool_ord"))
    ts.add_elements(rows1)
    ts.add_elements(rows2)
    trig = AfterWatermark().with_early_firings(AfterPane(2))
    out = triggered_windowed_sum(
        ts.stream(spark, "user string, ts timestamp, amount double"),
        key="user", value_col="amount", window_size="1 minute",
        trigger=trig, order_by=["ts", "amount"])
    got = run_to_memory(out, "append").toPandas()
    a = got[got.key == "a"].sort_values("pane_index")
    assert a.timing.tolist() == ["EARLY", "EARLY", "ON_TIME"]
    # sorted by ts: 1,2,4,8 -> prefix sums 3 and 15; on-time repeats 15
    assert a.total.tolist() == [3.0, 15.0, 15.0]
    assert a.n_in_pane.tolist() == [2, 2, 0]
    assert a.is_last.tolist() == [False, False, True]
    assert a.on_time_index.tolist() == [-1, -1, 0]
