"""Trigger emulation tier (SURVEY.md §2.8 / §7 "genuinely hard").

Mapping of the reference's trigger algebra onto Structured Streaming:

| Reference trigger                       | Here |
|-----------------------------------------|------|
| Default (AfterWatermark past end)       | append mode — exact |
| AfterWatermark.withEarlyFirings         | update mode (one early pane per micro-batch; no pane index) |
| AfterProcessingTime.plusDelayOf(d)      | ``trigger(processingTime=d)`` + update mode |
| AfterPane.elementCountAtLeast(n)        | ``count_trigger_aggregate`` below (stateful, real pane metadata) |
| Repeatedly / AfterEach / AfterFirst / AfterAll / orFinally / Never | ``trigger_machine.py`` state machines, run by ``triggered_windowed_sum`` below |

``count_trigger_aggregate`` also demonstrates ACCUMULATING_FIRED_PANES
(Window.java:273): each fired pane carries the running aggregate and a
``pane_index``, the metadata Spark's native aggregation has no slot for
(PaneInfo.java:44).  ``triggered_windowed_sum`` generalizes it: any
composite ``TriggerSM`` drives per-(key, window) pane emission with
full PaneInfo (index + EARLY/ON_TIME/LATE timing), with a named timer
at the window end so the on-time pane fires on watermark advance even
without new data.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from apache_beam_spark.streaming.stateful import (KEY_GROUPS,
                                                   stateful_per_key_group)
from apache_beam_spark.streaming.timers import stateful_do_fn


def count_trigger_aggregate(
    df: DataFrame,
    key: str,
    value_col: str,
    fire_every: int,
    accumulating: bool = True,
    n_shards: int = KEY_GROUPS,
) -> DataFrame:
    """AfterPane.elementCountAtLeast(fire_every) on a per-key sum.

    Emits a pane ``(key, pane_index, n_in_pane, total)`` every
    ``fire_every`` elements; ``accumulating=True`` makes ``total`` the
    running aggregate across panes (ACCUMULATING_FIRED_PANES),
    ``False`` resets per pane (DISCARDING_FIRED_PANES).  Keys share
    ``n_shards`` key groups (``stateful_per_key_group``).
    """
    import numpy as np

    def step(blob, pdfs, state):
        # blob: {key: {"total", "pane", "pane_n", "pane_total"}}
        rows = []
        for pdf in pdfs:
            for k, grp in pdf.groupby("__k__", sort=False):
                st = blob.setdefault(str(k), {
                    "total": 0.0, "pane": 0, "pane_n": 0,
                    "pane_total": 0.0})
                # vectorized pane math: fires land at 1-based positions
                # fire_every - pane_n, then every fire_every; cumsum
                # gives both running totals and per-pane sums, Python
                # touches only the fired panes (~1/fire_every of rows)
                vals = grp[value_col].to_numpy(dtype=np.float64)
                m = len(vals)
                s = np.cumsum(vals)
                fire_pos = np.arange(fire_every - st["pane_n"], m + 1,
                                     fire_every)
                if len(fire_pos):
                    tots = st["total"] + s[fire_pos - 1]
                    pane_sums = np.diff(
                        np.concatenate(([0.0], s[fire_pos - 1])))
                    pane_sums[0] += st["pane_total"]
                    for j in range(len(fire_pos)):
                        rows.append((str(k), st["pane"] + j, fire_every,
                                     float(tots[j]) if accumulating
                                     else float(pane_sums[j])))
                    last = int(fire_pos[-1])
                    st["pane"] += len(fire_pos)
                    st["pane_n"] = m - last
                    st["pane_total"] = (float(s[-1] - s[last - 1])
                                        if m > last else 0.0)
                else:
                    st["pane_n"] += m
                    st["pane_total"] += float(s[-1])
                st["total"] += float(s[-1])
        out = pd.DataFrame(rows, columns=["key", "pane_index", "n_in_pane",
                                          "total"]) if rows else None
        return out, None

    return stateful_per_key_group(
        df.select(F.col(key).cast("string").alias("__k__"), value_col),
        "__k__", step,
        "key string, pane_index int, n_in_pane int, total double",
        n_shards)


_INTERVAL_UNITS_MS = {
    "microsecond": 0.001, "millisecond": 1, "second": 1000,
    "minute": 60_000, "hour": 3_600_000, "day": 86_400_000,
    "week": 7 * 86_400_000,
}


def interval_ms(spec: str) -> int:
    """Parse a Spark CalendarInterval-style ``"<n> <unit>"`` string
    (the ``withWatermark`` delay format) to integer milliseconds."""
    parts = spec.strip().split()
    if len(parts) != 2:
        raise ValueError(f"expected '<n> <unit>', got {spec!r}")
    n, unit = float(parts[0]), parts[1].rstrip("s").lower()
    if unit not in _INTERVAL_UNITS_MS:
        raise ValueError(f"unknown interval unit in {spec!r}")
    return int(n * _INTERVAL_UNITS_MS[unit])


def triggered_windowed_sum(
    df: DataFrame,
    key: str,
    value_col: str,
    window_size: str,
    trigger,
    event_time: str = "ts",
    allowed_lateness: str = "0 seconds",
    accumulating: bool = True,
    timestamp_combiner: str = "end_of_window",
    order_by: Optional[list] = None,
    closing_behavior: str = "fire_if_non_empty",
    on_time_behavior: str = "fire_always",
) -> DataFrame:
    """Per-(key, fixed-window) sum under a composite trigger state
    machine (``trigger_machine.TriggerSM`` — Repeatedly / orFinally /
    AfterEach / AfterFirst / AfterAll / AfterWatermark±early,late /
    AfterPane / Never).

    Panes carry reference PaneInfo: ``pane_index`` and
    EARLY/ON_TIME/LATE ``timing`` (PaneInfo.java:44).  A named timer at
    the window end wakes the key when the watermark passes, so
    watermark-gated firings (AfterWatermark, orFinally(AfterWatermark))
    happen without waiting for more data.  After the trigger finishes,
    the window is closed and later elements are dropped — exactly the
    reference's finished-trigger contract.

    Window lifecycle (reference ``ReduceFnRunner.java``):

    * Elements of a window whose end + ``allowed_lateness`` is at or
      before the current watermark are DROPPED before they touch state
      (``LateDataDroppingDoFnRunner.java:48``) — checked against the
      CURRENT watermark inside the operator because Spark's pre-state
      late filter lags one micro-batch.
    * At window expiry (end + allowed lateness, a second named timer
      ``__wgc__``) an UNFINISHED trigger emits its pending pane iff
      non-empty — ``ReduceFnRunner.onGarbageCollection`` calling
      ``onTrigger(isFinished=true)`` under the default
      ``ClosingBehavior.FIRE_IF_NON_EMPTY`` (ReduceFnRunner.java:
      775-783) — so count-only/AfterEach trigger shapes are not
      silently lossy: buffered elements surface as a final pane with
      ``is_last=true``.  The expired window's state and timers are then
      cleared entirely, so long-lived streams don't accumulate state
      for closed windows.
    * Timers due at the current watermark fire BEFORE any data that
      arrived in the same micro-batch is processed — the watermark
      advanced between batches, so (e.g.) the ON_TIME pane fires ahead
      of late elements delivered alongside the advance.

    ``pane_ts_ms`` is the pane's output timestamp per
    ``timestamp_combiner``: the min (earliest) / max (latest) event
    time of the pane's elements — the value the reference keeps in
    WatermarkHold state (WatermarkHold.java) so early panes can carry
    an element-derived timestamp — or the window end (end_of_window).

    ``closing_behavior`` (Window.withClosingBehavior,
    ClosingBehavior.java): ``fire_if_non_empty`` (default) emits the
    expiry final pane only when elements are pending;
    ``fire_always`` emits it even empty (n_in_pane = 0, accumulated
    total) — only for windows whose trigger hasn't already finished,
    exactly the reference's GC firing condition.

    ``on_time_behavior`` (Window.withOnTimeBehavior,
    OnTimeBehavior.java): ``fire_always`` (default) emits the
    watermark-crossing ON_TIME pane even when empty;
    ``fire_if_non_empty`` suppresses an EMPTY on-time pane — the
    trigger still advances (and may finish/close the window), but no
    row is produced and pane indices don't consume a slot, so a
    subsequent LATE pane carries on_time_index 0 (the reference
    numbers only PRODUCED panes, PaneInfoTracker).

    ``order_by`` pins a deterministic per-(key, window) element order
    within each micro-batch (columns of the internal frame: the
    ``value_col``/``event_time`` names) — count-based triggers make
    pane COMPOSITION order-sensitive, and the reference guarantees no
    intra-bundle order either, so a stable order is a valid arrival
    order and makes replays value-oracle-able
    (``stream_trigger_exact``).
    """
    if timestamp_combiner not in ("end_of_window", "earliest", "latest"):
        raise ValueError(f"unknown timestamp_combiner {timestamp_combiner!r}")
    from pyspark.sql import functions as F

    from apache_beam_spark.streaming.trigger_machine import (
        EARLY, LATE, ON_TIME, TriggerContext)

    lateness_ms = interval_ms(allowed_lateness)
    if closing_behavior not in ("fire_if_non_empty", "fire_always"):
        raise ValueError(f"unknown closing_behavior {closing_behavior!r}")
    if on_time_behavior not in ("fire_always", "fire_if_non_empty"):
        raise ValueError(f"unknown on_time_behavior {on_time_behavior!r}")

    def _emit_pane(k, ctx, finished: bool, force: bool = False) -> None:
        """Emit the pending pane with full PaneInfo; ``finished=True``
        marks it the window's last (the trigger finished on this
        firing, or this is the expiry-time final pane).  ``force``
        bypasses the OnTimeBehavior empty-pane suppression (the GC
        pane answers to ClosingBehavior, not OnTimeBehavior)."""
        wend = int(k[1])
        on_time_seen = ctx.get("ots", False)
        if ctx.now_ms >= wend and not on_time_seen:
            timing = ON_TIME
            ctx.put("ots", True)
        elif ctx.now_ms >= wend:
            timing = LATE
        else:
            timing = EARLY
        if (timing == ON_TIME and not force
                and on_time_behavior == "fire_if_non_empty"
                and ctx.get("pane_n", 0) == 0):
            # suppressed empty on-time pane: the firing happened (the
            # trigger advanced, 'ots' is marked) but no row is
            # produced and no pane index is consumed —
            # OnTimeBehavior.FIRE_IF_NON_EMPTY
            if finished:
                ctx.put("closed", True)
            return
        if timestamp_combiner == "earliest":
            pane_ts = ctx.get("pane_min_ts")
        elif timestamp_combiner == "latest":
            pane_ts = ctx.get("pane_max_ts")
        else:
            pane_ts = wend
        if pane_ts is None:
            # EMPTY pane under an element-derived combiner: the hold
            # has nothing to hold, so the output timestamp falls back
            # to the end of the window (WatermarkHold.java end-of-
            # window extraction for panes with no element holds)
            pane_ts = wend
        pane_idx = ctx.get("pane_idx", 0)
        if timing == EARLY:
            on_time_index = -1       # speculative pane (Beam convention)
        else:
            on_time_index = ctx.get("oti", 0)
            ctx.put("oti", on_time_index + 1)
        ctx.output({
            "key": k[0], "window_end_ms": wend,
            "pane_index": pane_idx, "timing": timing,
            "is_first": pane_idx == 0, "is_last": finished,
            "on_time_index": on_time_index,
            "n_in_pane": ctx.get("pane_n", 0),
            "pane_ts_ms": pane_ts,
            "total": ctx.get("total", 0.0) if accumulating
            else ctx.get("pane_total", 0.0),
        })
        ctx.put("pane_idx", pane_idx + 1)
        ctx.put("pane_n", 0)
        ctx.put("pane_total", 0.0)
        ctx.clear("pane_min_ts")
        ctx.clear("pane_max_ts")
        if finished:
            ctx.put("closed", True)

    def _fire_ready(k, ctx, s) -> None:
        """Emit a pane if the machine is ready (bounded: one call per
        wake reason, machine state advances or finishes)."""
        wend = int(k[1])
        tctx = TriggerContext(ctx.now_ms, 0, wend)
        if ctx.get("closed") or not trigger.should_fire(s, tctx):
            return
        # advance the machine BEFORE emitting so the pane can carry
        # is_last (PaneInfo.java:44 — LAST is known when the trigger
        # finishes on this firing and the window closes)
        trigger.on_fire(s, tctx)
        _emit_pane(k, ctx, finished=trigger.finished(s))

    def on_timer(k, timer_id, ctx) -> None:
        if timer_id == "__wgc__":
            # window expiry (end + allowed lateness):
            # ReduceFnRunner.onGarbageCollection fires the final pane
            # of an UNFINISHED trigger iff non-empty (the default
            # ClosingBehavior.FIRE_IF_NON_EMPTY, ReduceFnRunner.java:
            # 775-783), with isFinished=true.  Then drop all window
            # state + timers — GroupState is removed outright.
            if not ctx.get("closed") and (
                    ctx.get("pane_n", 0) > 0
                    or closing_behavior == "fire_always"):
                _emit_pane(k, ctx, finished=True, force=True)
            ctx.clear_all()
            return
        s = ctx.get("trig") or trigger.new_state()
        _fire_ready(k, ctx, s)
        ctx.put("trig", s)

    def process(k, pdf: pd.DataFrame, ctx) -> None:
        # timers due at the current watermark fire BEFORE this batch's
        # data: the watermark advanced between micro-batches, so those
        # firings (ON_TIME pane, expiry GC) semantically precede any
        # element delivered alongside the advance
        for _fire_at, tid in ctx._due(ctx.now_ms):
            on_timer(k, tid, ctx)
        wend = int(k[1])
        if ctx.get("closed") or wend + lateness_ms <= ctx.now_ms:
            # closed by a finished trigger, or expired: drop iff window
            # end + allowed lateness <= watermark
            # (LateDataDroppingDoFnRunner.java:48), checked against the
            # CURRENT watermark — Spark's own pre-state filter lags one
            # micro-batch
            return
        s = ctx.get("trig") or trigger.new_state()
        tctx = TriggerContext(ctx.now_ms, 0, wend)
        ts_ms = (pd.to_datetime(pdf[event_time]).astype("int64") // 1_000_000)
        for v, t in zip(pdf[value_col], ts_ms):
            if ctx.get("closed"):
                break
            ctx.put("total", ctx.get("total", 0.0) + float(v))
            ctx.put("pane_total", ctx.get("pane_total", 0.0) + float(v))
            ctx.put("pane_n", ctx.get("pane_n", 0) + 1)
            t = int(t)
            mn, mx = ctx.get("pane_min_ts"), ctx.get("pane_max_ts")
            ctx.put("pane_min_ts", t if mn is None else min(mn, t))
            ctx.put("pane_max_ts", t if mx is None else max(mx, t))
            trigger.on_element(s, tctx)
            _fire_ready(k, ctx, s)
        ctx.put("trig", s)
        if not ctx.get("closed") and not ctx.get("ots"):
            ctx.set_timer("__wend__", wend)  # wake on watermark past end
        # expiry timer: fires FIRE_IF_NON_EMPTY + state GC; armed even
        # for closed windows so their residual state is reclaimed
        ctx.set_timer("__wgc__", wend + lateness_ms)

    wend = F.window(F.col(event_time), window_size)["end"]
    if isinstance(df.schema[event_time].dataType, TimestampNTZType):
        # TIMESTAMP_NTZ cannot cast to a number; read its wall clock as
        # UTC, as the pandas side above reads the element timestamps
        wend_ms = F.timestamp_diff(
            "MILLISECOND", F.lit("1970-01-01").cast("timestamp_ntz"), wend)
    else:
        wend_ms = F.unix_millis(wend)
    tagged = (df
              .withColumn("__wend_ms__", wend_ms)
              .select(F.col(key).alias("__k__"), value_col, event_time,
                      "__wend_ms__"))
    return stateful_do_fn(
        tagged, ["__k__", "__wend_ms__"], process, on_timer,
        output_schema=("key string, window_end_ms long, pane_index int, "
                       "timing string, is_first boolean, is_last boolean, "
                       "on_time_index long, n_in_pane int, pane_ts_ms long, "
                       "total double"),
        time_domain="event", event_time=event_time,
        allowed_lateness=allowed_lateness,
        sort_within_batch=order_by,
    )
