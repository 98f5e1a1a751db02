"""Streaming sequence-pattern (funnel) matching.

The unbounded twin of ``operators/sequences.py::funnel_instances``:
the same greedy-earliest chained pattern, computed incrementally with
per-key state (reference shape: stateful ParDo with BagState buffer +
watermark-driven processing, ``StatefulDoFnRunner.java:46``).

Out-of-order arrivals are handled the way the reference's event-time
machinery does: events buffer in state until the key's watermark
(max seen event time minus ``lateness_ms``) passes them, then are
processed in event-time order — so any event no later than the
lateness bound lands in its correct sequence position.  Partial
matches expire once the watermark proves their next step can no longer
arrive.

The watermark is Spark's own GLOBAL query watermark (``withWatermark``
on the event-time column, read back via ``getCurrentWatermarkMs``), so
one key's quiet period cannot stall another key's sealing; idle keys
re-awaken through an event-time timeout the moment the watermark
passes their buffered events (the reference's watermark timer).
Since round 7 it is driven by FUNNEL-STEP events only: non-step
events are pruned by a codegen filter Catalyst pushes into the scan,
so they cost nothing anywhere — see ``streaming_funnel``'s docstring
for the trade.

State per key is the unsealed event buffer and the open partial
chains per stage, kept in key-group blobs (``stateful_per_key_group``).
At scale the buffer per key is bounded by (lateness window x per-key
event rate) — the identical bound Spark's own stream-stream
joins keep.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ByteType, IntegerType, LongType, ShortType,
                               TimestampType, TimestampNTZType)

from apache_beam_spark.streaming.stateful import (KEY_GROUPS,
                                                   stateful_per_key_group)

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _require_integral(df: DataFrame, col: str, role: str) -> None:
    """Fail loudly on non-integral key/id columns: cast('long') on a
    string/struct column silently yields NULL, which would collapse all
    rows into one state key instead of erroring."""
    dtype = df.schema[col].dataType
    if not isinstance(dtype, _INTEGRAL):
        raise TypeError(
            f"streaming_funnel {role} column {col!r} must be an integral "
            f"type, got {dtype.simpleString()}; hash or dictionary-encode "
            "it to a long first (non-numeric values cast to NULL and "
            "would merge every row into a single state key)")


def streaming_funnel(df: DataFrame, steps: Sequence[str], within_ms: int,
                     key_col: str = "user_id", ts_col: str = "ts",
                     type_col: str = "event_type", id_col: str = "event_id",
                     lateness_ms: int = 0,
                     n_shards: int = KEY_GROUPS) -> DataFrame:
    """Emit completed ``steps[0] -> steps[1] -> ...`` chains per key.

    Output: ``(key_col, <step>_ts ...)`` with timestamps as epoch
    MICROSECOND longs (convert with ``timestamp_micros``).  Semantics
    match the batch operator for every event arriving within
    ``lateness_ms`` of the key's max seen event time.

    User keys are multiplexed through ``n_shards`` key groups
    (``stateful_per_key_group``): a micro-batch pays at most
    ``n_shards`` Python/Arrow round trips while per-user buffers stay
    independent inside the group blob.

    Watermark scope: only events whose type is one of ``steps``
    advance the query watermark — non-step events are pruned by a
    codegen filter that Catalyst pushes all the way into the scan, so
    they cost no shuffle, no state machinery, and no Python.  That is
    the 100 TB trade: a funnel over 3 of 500 event types reads a
    fraction of the stream.  The pruned watermark is conservative
    (never ahead of the all-events one), so nothing seals early; it
    advances whenever funnel-relevant traffic flows.
    """
    if len(steps) < 2:
        raise ValueError("streaming_funnel needs at least 2 steps")
    if len(steps) > 62:
        raise ValueError(f"streaming_funnel supports at most 62 steps"
                         f" (bitmask fits a signed long), got {len(steps)}")
    _require_integral(df, key_col, "key")
    _require_integral(df, id_col, "id")
    n_steps = len(steps)
    within_us = within_ms * 1000

    dtype = df.schema[ts_col].dataType
    ts_long = (F.unix_micros(F.col(ts_col).cast("timestamp"))
               if isinstance(dtype, (TimestampType, TimestampNTZType))
               else F.col(ts_col).cast("long"))
    # step types are encoded IN THE PLAN to a bitmask of the step
    # indices they match (bit j set <=> type == steps[j]; a codegen
    # when-chain, one bit per step so repeated step names keep every
    # match), and non-step events are filtered out entirely —
    # Catalyst pushes the y > 0 predicate below the EventTimeWatermark
    # node into the scan, so non-step events cost nothing anywhere
    # (and, per the docstring, do not advance the watermark) — at the
    # bench mix that is 40% of the stream never leaving the scan
    mask_of: dict[str, int] = {}
    for j, s in enumerate(steps):
        mask_of[s] = mask_of.get(s, 0) | (1 << j)
    y_mask = F.lit(0)
    for s, m in mask_of.items():
        y_mask = F.when(F.col(type_col) == s, F.lit(m)).otherwise(y_mask)
    src = (df.select(F.col(key_col).cast("long").alias("k"),
                     ts_long.alias("t"),
                     y_mask.cast("long").alias("y"),
                     F.col(id_col).cast("long").alias("i"),
                     F.timestamp_micros(ts_long).alias("__wmts__"))
           .withWatermark("__wmts__", f"{max(lateness_ms, 0)} milliseconds")
           .filter(F.col("y") > 0))

    out_cols = ", ".join(f"{s}_ts bigint" for s in steps)
    out_schema = f"{key_col} bigint, {out_cols}"

    def _advance(buf, parts, wm, done, out_keys, user):
        """Seal events behind the watermark and push them through the
        open partial chains; returns the surviving (buf, parts)."""
        # seal strictly below the watermark: a row EQUAL to it could
        # still legally arrive, so it stays buffered one more beat
        sealed = sorted((e for e in buf if e[0] < wm),
                        key=lambda e: (e[0], e[2]))
        buf = [e for e in buf if e[0] >= wm]
        for t, y, _ in sealed:
            # advance deepest stages first so an event never advances a
            # chain it just extended in this same pass (y is the
            # step-index bitmask, encoded in the plan)
            if y > 1:
                for j in range(n_steps - 1, 0, -1):
                    if not (y >> j) & 1:
                        continue
                    for p in parts:
                        if (len(p) == j and p[-1] < t
                                and t - p[-1] <= within_us):
                            p.append(t)
                            if len(p) == n_steps:
                                done.append(p)
                                out_keys.append(user)
            if y & 1:
                parts.append([t])
        parts = [p for p in parts
                 if len(p) < n_steps and wm <= p[-1] + within_us]
        return buf, parts

    def _emit(done, out_keys):
        return pd.DataFrame(
            {key_col: out_keys,
             **{f"{s}_ts": [d[i] for d in done]
                for i, s in enumerate(steps)}})

    def step(users, pdfs, state):
        # users: {user_key: {"buf": [...], "parts": [...]}}
        wm_ms = state.getCurrentWatermarkMs()
        wm = wm_ms * 1000  # query watermark (µs): global, monotone
        for pdf in pdfs:
            # vectorized ingest: Spark's late-row rule (a row with
            # event time < the watermark is beyond the lateness bound
            # -> dropped; skipped on the wm-0 first batch: nothing can
            # be late) + per-user bulk extend (a groupby over the
            # Arrow batch, not a Python loop over events)
            if wm:
                pdf = pdf[pdf["t"] >= wm]
            for u, g in pdf.groupby("k", sort=False):
                st = users.setdefault(str(u), {"buf": [], "parts": []})
                st["buf"].extend(zip(g["t"].astype(int).tolist(),
                                     g["y"].astype(int).tolist(),
                                     g["i"].astype(int).tolist()))

        done, out_keys = [], []
        for u in list(users):
            st = users[u]
            buf, parts = _advance(st["buf"], st["parts"], wm,
                                  done, out_keys, int(u))
            if buf or parts:
                st["buf"], st["parts"] = buf, parts
            else:
                del users[u]
        # wake each group as soon as the watermark moves again, even
        # if it never receives another event
        return (_emit(done, out_keys) if done else None), wm_ms + 1

    return stateful_per_key_group(src, "k", step, out_schema, n_shards,
                                  timeout="EventTimeTimeout")
