"""Streaming windowed heavy hitters (Misra-Gries in keyed state).

The unbounded twin of ``operators/heavy_hitters.py``: per fixed event-
time window, a Misra-Gries summary of at most ``capacity`` counters
lives in the window's state; the window emits its surviving counters
once the query watermark passes the window end, then frees the state.

Why not ``groupBy(window, item).count()``?  That keeps one state row
per DISTINCT ITEM per open window — for token streams that's the
vocabulary times the window count, and the state store becomes the
bottleneck.  Misra-Gries caps state at ``capacity`` counters per
window with the classic guarantee: any item with true count >
n/(capacity+1) survives, and every reported count undercounts by at most
n/(capacity+1).  With ``capacity`` >= the window's distinct-item count
the summary degenerates to exact counting (useful for tests/oracles).

Mechanics mirror ``streaming/sequences.py``: windows share key-group
state (``stateful_per_key_group``), global watermark via
``getCurrentWatermarkMs``, event-time timeout re-arming at
watermark+1 so idle windows still close.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType, TimestampNTZType

from apache_beam_spark.streaming.stateful import (KEY_GROUPS,
                                                   stateful_per_key_group)


def streaming_heavy_hitters(df: DataFrame, item_col: str,
                            window_ms: int, capacity: int = 50,
                            min_count: int = 1,
                            ts_col: str = "ts",
                            lateness_ms: int = 0,
                            n_shards: int = KEY_GROUPS) -> DataFrame:
    """Per closed window: items whose MG count reaches ``min_count``.

    Output ``(window_start, item, approx_count)`` — ``window_start`` as
    epoch MICROSECOND long; ``approx_count`` undercounts by at most
    (window rows)/(capacity+1).  Rows later than ``lateness_ms`` are
    dropped (standard watermark discipline).

    Windows are the state keys, multiplexed through ``n_shards`` key
    groups: long replays touching hundreds of windows per micro-batch
    pay at most ``n_shards`` Python round trips.
    """
    window_us = window_ms * 1000

    dtype = df.schema[ts_col].dataType
    ts_long = (F.unix_micros(F.col(ts_col).cast("timestamp"))
               if isinstance(dtype, (TimestampType, TimestampNTZType))
               else F.col(ts_col).cast("long"))
    src = (df.select((F.floor(ts_long / window_us) * window_us)
                     .cast("long").alias("w"),
                     F.col(item_col).cast("string").alias("item"),
                     ts_long.alias("t"),
                     F.timestamp_micros(ts_long).alias("__wmts__"))
           .withWatermark("__wmts__", f"{max(lateness_ms, 0)} milliseconds"))

    out_schema = "window_start bigint, item string, approx_count bigint"

    def _close(w_start, counters):
        items = [(i, n) for i, n in counters.items() if n >= min_count]
        if items:
            return pd.DataFrame({
                "window_start": [w_start] * len(items),
                "item": [i for i, _ in items],
                "approx_count": [n for _, n in items]})
        return None

    def _trim(counters):
        if len(counters) > capacity:
            # mergeable-summaries trim: subtract the
            # (capacity+1)-th largest count from everyone
            cut = sorted(counters.values())[-(capacity + 1)]
            counters = {i: n - cut for i, n in counters.items() if n > cut}
        return counters

    def step(wins, pdfs, state):
        # wins: {window_start: {item: count}}
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        for pdf in pdfs:
            # standard late-row discipline: rows behind the watermark
            # are beyond the lateness bound -> dropped (wm 0 = first
            # batch: nothing can be late, skip the mask+copy)
            if wm_us:
                pdf = pdf[pdf["t"] >= wm_us]
            # ONE vectorized count over the whole batch instead of a
            # value_counts call per window — the absorb loop then
            # walks a ~(windows x items)-sized series
            counts = pdf.groupby(["w", "item"], sort=False).size()
            touched = set()
            for (w_start, item), c in counts.items():
                k = str(int(w_start))
                counters = wins.setdefault(k, {})
                counters[item] = counters.get(item, 0) + int(c)
                touched.add(k)
            for k in touched:       # MG trim once per touched window
                wins[k] = _trim(wins[k])
        outs = []
        for k in [k for k in wins
                  if wm_us >= int(k) + window_us]:  # closed windows
            out = _close(int(k), wins.pop(k))
            if out is not None:
                outs.append(out)
        return (pd.concat(outs, ignore_index=True) if outs else None,
                wm_ms + 1)

    return stateful_per_key_group(src, "w", step, out_schema, n_shards,
                                  timeout="EventTimeTimeout")
