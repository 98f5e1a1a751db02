"""User state + timers on unbounded input.

Reference: stateful ParDo — ``@StateId`` ValueState/BagState/SetState/
MapState/CombiningState (``state/StateSpecs.java:49-182``) and
``@TimerId`` event/processing-time timers (``state/TimerSpecs.java:28``),
run by ``StatefulDoFnRunner.java:46``.

Spark realization: ``applyInPandasWithState`` — the state struct holds
what the reference split across named state cells (a ValueState is a
scalar field, a BagState an array field, a MapState a map field), and
``GroupState`` timeouts play the timer role (one timeout per key; the
reference's multiple named timers multiplex through a (timer_id,
fire_at) heap kept IN the state struct, firing every due entry whenever
the single Spark timeout wakes the key).
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Key groups per operator when the caller names no count (see
#: ``stateful_per_key_group``; the timing that set it is in SCALING.md
#: "One key-group layout").
KEY_GROUPS = 64

_KEY_GROUP_COL = "__key_group__"


def stateful_per_key(
    df: DataFrame,
    keys: list[str],
    func: Callable,
    output_schema,
    state_schema,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Stateful ParDo (reference ParDo.of(stateful DoFn),
    ``transforms/ParDo.java:432`` + StateSpecs).

    ``func(key, pdf_iter, state) -> Iterable[pd.DataFrame]`` — the
    reference's ``@ProcessElement`` with a state argument; bundle
    semantics (@StartBundle/@FinishBundle) map to the per-group pandas
    iterator.  ``timeout``: NoTimeout | ProcessingTimeTimeout |
    EventTimeTimeout (reference TimeDomain.java).
    """
    to = getattr(GroupStateTimeout, timeout)
    return df.groupBy(*keys).applyInPandasWithState(
        func, outputStructType=output_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=to,
    )


def stateful_per_key_group(
    df: DataFrame,
    key: str,
    step: Callable[[dict, Iterator[pd.DataFrame], GroupState],
                   tuple[Optional[pd.DataFrame], Optional[int]]],
    output_schema,
    n_shards: int = KEY_GROUPS,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Stateful ParDo over key groups (Flink's key-group idea): rows
    are grouped by ``pmod(xxhash64(key), n_shards)``, so a micro-batch
    pays at most ``n_shards`` Python/Arrow round trips however many
    distinct keys it carries, and a group's state is one JSON
    ``{str(key): key_state}`` blob in which keys stay independent.
    The group count changes no result, only how keys share state rows;
    keep it fixed for the life of a checkpoint, since a key's state
    lives in the group its hash picked.

    ``step(blob, pdfs, state) -> (rows, wake_ms)`` updates ``blob`` in
    place from the group's pandas chunks (none on a timeout wake) and
    returns the rows to emit (or None) and the event-time timeout to
    arm (or None).  An empty blob removes the group's state.
    """
    from pyspark.sql import functions as F

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    def fn(_group, pdfs, state: GroupState):
        blob = json.loads(state.get[0]) if state.exists else {}
        rows, wake_ms = step(blob, pdfs, state)
        if blob:
            state.update((json.dumps(blob),))
            if wake_ms is not None:
                state.setTimeoutTimestamp(wake_ms)
        elif state.exists:
            state.remove()
        if rows is not None:
            yield rows

    grouped = df.withColumn(
        _KEY_GROUP_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)))
    return stateful_per_key(grouped, [_KEY_GROUP_COL], fn, output_schema,
                            "js string", timeout)


def group_into_batches_stream(
    df: DataFrame,
    key: str,
    batch_size: int,
    value_cols: list[str],
    flush_after_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming GroupIntoBatches (reference
    ``transforms/GroupIntoBatches.java:79`` — BagState buffer + ValueState
    count + an expiry timer).

    Emits rows ``(key, batch array<struct>, batch_size)`` whenever a
    key's buffer reaches ``batch_size``; a processing-time timeout
    flushes stragglers (the reference's end-of-window timer).
    """
    from pyspark.sql import functions as F  # noqa: F401  (schema strings below)

    out_schema = (
        f"{key} string, batch array<string>, n int"
    )
    state_schema = "buf array<string>"

    def fn(k, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (buf,) = state.get if state.exists else ([],)
        buf = list(buf)
        emitted = []
        if state.hasTimedOut:
            if buf:
                emitted.append(buf)
                buf = []
        else:
            for pdf in pdfs:
                for v in pdf[value_cols[0]].astype(str):
                    buf.append(v)
                    if len(buf) >= batch_size:
                        emitted.append(buf)
                        buf = []
        if buf:
            state.update((buf,))
            if flush_after_ms is not None:
                state.setTimeoutDuration(flush_after_ms)
        elif state.exists:
            state.remove()
        for b in emitted:
            yield pd.DataFrame({key: [k[0]], "batch": [b], "n": [len(b)]})

    timeout = "ProcessingTimeTimeout" if flush_after_ms is not None else "NoTimeout"
    return stateful_per_key(
        df.select(key, *value_cols), [key], fn, out_schema, state_schema, timeout
    )


def streaming_distinct(df: DataFrame, cols: list[str], event_time: str,
                       within: str) -> DataFrame:
    """Streaming Distinct (reference ``transforms/Distinct.java`` on an
    unbounded input): state-backed dedup whose per-key state is evicted
    once the watermark passes ``within`` — the reference gets the same
    GC from window-expiry of the GroupByKey state."""
    from apache_beam_spark.windowing import ensure_event_time

    return (ensure_event_time(df, event_time)
            .withWatermark(event_time, within)
            .dropDuplicatesWithinWatermark(cols))


def rate_limit_batch(df: DataFrame, key: str, event_time: str,
                     id_col: str, window_ms: int,
                     max_per_window: int) -> DataFrame:
    """Batch twin of ``streaming_rate_limit``: admit the first
    ``max_per_window`` events per (key, event-time window) in
    (ts, id) order.  One keyed shuffle (the window)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    ts_ms = F.unix_millis(F.col(event_time).cast("timestamp"))
    win = (ts_ms / window_ms).cast("long") * window_ms
    w = W.partitionBy(key, "win_start_ms").orderBy("ts_ms", id_col)
    return (df.select(F.col(key).cast("string").alias(key),
                      F.col(id_col).cast("long").alias(id_col),
                      ts_ms.alias("ts_ms"), win.alias("win_start_ms"))
            .withColumn("seq", F.row_number().over(w))
            .filter(F.col("seq") <= max_per_window))


def streaming_rate_limit(df: DataFrame, key: str, event_time: str,
                         id_col: str, window_ms: int,
                         max_per_window: int,
                         n_shards: int = KEY_GROUPS) -> DataFrame:
    """Per-key event-time token bucket: admit at most
    ``max_per_window`` events per key per ``window_ms`` event-time
    window; excess rows are dropped (throttling / abuse-limiting at
    the ingestion edge).

    Deterministic: admission order within a micro-batch is
    (event_time, id) per key.  State is one (window_start ->
    admitted_count) map per key, kept in ``n_shards`` key groups
    (``stateful_per_key_group``); windows older than the watermark
    minus one window are evicted on every invocation, so state is
    bounded by ``lateness / window`` entries per key.  Output:
    ``(key, id, ts_ms, win_start_ms, seq)`` — matches
    ``rate_limit_batch`` on in-order input (parity-tested).
    """
    from pyspark.sql import functions as F

    from apache_beam_spark.windowing import ensure_event_time

    out_schema = (f"{key} string, {id_col} long, ts_ms long, "
                  "win_start_ms long, seq int")

    def step(blob, pdfs, state):
        # blob: {user_key: {win_start: count}}
        out = {key: [], id_col: [], "ts_ms": [], "win_start_ms": [],
               "seq": []}
        for pdf in pdfs:
            pdf = pdf.sort_values([key, "__ts_ms__", id_col])
            for uk, i, t in zip(pdf[key], pdf[id_col], pdf["__ts_ms__"]):
                bucket = blob.setdefault(str(uk), {})
                w = int(t) // window_ms * window_ms
                c = bucket.get(str(w), 0)
                if c < max_per_window:
                    bucket[str(w)] = c + 1
                    out[key].append(str(uk))
                    out[id_col].append(int(i))
                    out["ts_ms"].append(int(t))
                    out["win_start_ms"].append(w)
                    out["seq"].append(c + 1)
        # evict windows the watermark has passed (bounded state)
        wm = state.getCurrentWatermarkMs()
        if wm > 0:
            for uk in list(blob):
                kept = {w: c for w, c in blob[uk].items()
                        if int(w) + window_ms > wm - window_ms}
                if kept:
                    blob[uk] = kept
                else:
                    del blob[uk]
        return (pd.DataFrame(out) if out[key] else None), None

    prepped = (ensure_event_time(df, event_time)
               .withWatermark(event_time, f"{window_ms} milliseconds"))
    # the watermarked column must survive into applyInPandasWithState
    # (dropping it would detach the watermark and break
    # getCurrentWatermarkMs) — keep it alongside the ms projection
    prepped = prepped.select(
        F.col(key).cast("string").alias(key),
        F.col(id_col).cast("long").alias(id_col),
        F.col(event_time),
        F.unix_millis(F.col(event_time)).alias("__ts_ms__"))
    return stateful_per_key_group(prepped, key, step, out_schema, n_shards)


def streaming_minhash_dedup(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", event_time: str = "ts",
                            within: str = "10 minutes",
                            num_hashes: int = 64, num_bands: int = 16,
                            shingle_k: int = 3, seed: int = 42,
                            hash_fn: str = "xx") -> DataFrame:
    """Streaming near-duplicate dedup — the unbounded twin of
    ``dedup/minhash.minhash_lsh_dedup`` (reference: Distinct on an
    unbounded PCollection generalized to NEAR-duplicates, which the
    reference has no operator for).

    Keep rule: a document survives iff it is the FIRST ARRIVAL in
    every LSH band bucket it occupies within the watermark horizon —
    the batch twin's bucket-min rule with arrival order in place of id
    order (a near-dup of an already-seen doc collides in >= 1 bucket
    and is dropped).  In-batch ties are broken arbitrarily by the
    bucket state operator; exactly one row per bucket survives either
    way, so this sits in the same one-round-CC approximation class as
    the batch rule.

    Plan shape (all JVM, no Python state): stateless signature + band
    explode (the batch miner's Column HOFs) -> state #1:
    ``dropDuplicatesWithinWatermark`` on (band, bh) — one stored row
    per bucket, evicted once the watermark passes ``within`` (bounded
    state at 100 TB: the horizon, not the corpus, sizes it) ->
    state #2: per-(window, doc) count == ``num_bands`` (append mode,
    emits when the doc's window closes under the watermark).  Chained
    stateful operators require Spark >= 3.5 watermark propagation.

    ``hash_fn``: ``"xx"`` (default) is the xxhash64 fast path;
    ``"md5"`` swaps in the cross-engine-deterministic md5 signature
    (``dedup/minhash.minhash_signature_md5`` — the stateless Column
    twin of ``minhash_dedup_md5``), which makes the streamed kept-set
    reproducible in any SQL engine with md5(): that is what lets the
    ``stream_minhash_dedup`` entry query carry a full DuckDB value
    oracle.  ~num_hashes x the hashing work — verification tier.

    Returns (id_col, event_time, win_start): the kept documents.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from apache_beam_spark.dedup.minhash import (
        _band_rows, _band_rows_md5, minhash_signature,
        minhash_signature_md5)
    from apache_beam_spark.windowing import ensure_event_time

    if hash_fn not in ("xx", "md5"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}: want 'xx' or 'md5'")
    r = num_hashes // num_bands
    src = ensure_event_time(df, event_time)
    if not isinstance(src.schema[event_time].dataType, TimestampType):
        # integer event times are epoch MICROSECONDS (the TestStream /
        # streaming_funnel convention in this repo)
        src = src.withColumn(
            event_time, F.timestamp_micros(F.col(event_time).cast("long")))
    src = src.withWatermark(event_time, within)
    sig = (minhash_signature(F.col(text_col), num_hashes, shingle_k, seed)
           if hash_fn == "xx"
           else minhash_signature_md5(F.col(text_col), num_hashes,
                                      shingle_k))
    band_rows = _band_rows if hash_fn == "xx" else _band_rows_md5
    sigs = src.select(
        F.col(id_col), F.col(event_time), sig.alias("__sig__"))
    bands = (sigs.select(id_col, event_time,
                         F.explode(band_rows("__sig__", num_bands,
                                             r)).alias("b"))
             .select(id_col, event_time, "b.band", "b.bh"))
    owned = bands.dropDuplicatesWithinWatermark(["band", "bh"])
    return (owned
            .groupBy(F.window(F.col(event_time), within), F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__n__"),
                 F.min(event_time).alias(event_time))
            .filter(F.col("__n__") == num_bands)
            .select(id_col, event_time,
                    F.col("window.start").alias("win_start")))


def streaming_sessions_strict(df: DataFrame, key: str, event_time: str,
                              gap_ms: int,
                              n_shards: int = KEY_GROUPS) -> DataFrame:
    """Streaming session windows with EXACT reference boundary
    semantics (``Sessions.java:40`` + ``IntervalWindow.isDisjoint``:
    ``end == other.start`` is disjoint, so two events exactly one gap
    apart stay in SEPARATE sessions — the one boundary Spark's native
    ``session_window`` merges).  The unbounded twin of
    ``windowing.Sessions(gap, strict_gap=True).apply``.

    State per key: the OPEN sessions as (start_ms, end_ms, n) triples,
    kept in ``n_shards`` key groups (``stateful_per_key_group``) — an
    event t merges into a session iff its proto-window
    [t, t+gap) OVERLAPS it (t < end and t+gap > start; equality at
    either edge keeps them separate).  A session closes exactly when
    the watermark reaches its end: any later on-time event has
    ts >= watermark >= end, which under STRICT semantics can never
    merge — so eviction at ``end <= watermark`` is lossless (the
    corresponding native-session rule needs end < watermark AND an
    extra touching check; strict semantics make the bound exact).
    State is therefore bounded by each key's open sessions within the
    watermark horizon, not by the stream.  Closed sessions emit on the
    EventTimeTimeout wake (set to the earliest open end in the group),
    so a key needs no new data to flush.  The bench gate
    `stream_strict_session_events_per_sec` measures this operator on
    the 10x replay spool with bounded-state evidence.

    Output (append, emitted when a session closes):
    ``(key string, session_start_ms, session_end_ms, n_events)``.
    Batch/stream parity is pinned in tests/test_strict_sessions.py.
    """
    from pyspark.sql import functions as F

    from apache_beam_spark.windowing import ensure_event_time

    out_schema = (f"{key} string, session_start_ms long, "
                  "session_end_ms long, n_events long")

    def _merge_strict(sessions):
        # islands split where start >= running max end (strict: a
        # touching proto-window starts its own session)
        sessions.sort()
        merged: list[list[int]] = []
        for s, e, n in sessions:
            if merged and s < merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += n
            else:
                merged.append([s, e, n])
        return merged

    def step(blob, pdfs, state):
        # blob: {user_key: [[start, end, n], ...]}
        wm = state.getCurrentWatermarkMs()
        for pdf in pdfs:
            for uk, t in zip(pdf[key], pdf["__ts_ms__"]):
                t = int(t)
                # reference late-drop against the CURRENT watermark
                # (LateDataDroppingDoFnRunner: an element whose window
                # end <= input watermark is droppable at
                # allowed-lateness 0).  Spark's own pre-state late
                # filter uses the PREVIOUS batch's watermark, which lets
                # an element within one gap of the stream head leak
                # into a still-open session one batch after the
                # watermark already passed it — observably different
                # sessions (caught by stream_session_late_exact).
                if t + gap_ms <= wm:
                    continue
                blob.setdefault(str(uk), []).append([t, t + gap_ms, 1])
        out = {key: [], "session_start_ms": [], "session_end_ms": [],
               "n_events": []}
        nxt = None
        for uk in list(blob):
            kept = []
            for s, e, n in _merge_strict(blob.pop(uk)):
                if e <= wm:
                    out[key].append(uk)
                    out["session_start_ms"].append(s)
                    out["session_end_ms"].append(e)
                    out["n_events"].append(n)
                else:
                    kept.append([s, e, n])
                    nxt = e if nxt is None else min(nxt, e)
            if kept:
                blob[uk] = kept
        # wake when the watermark passes the earliest open end (> wm
        # by construction, as Spark requires)
        return (pd.DataFrame(out) if out[key] else None), nxt

    from pyspark.sql.types import TimestampType

    src = ensure_event_time(df, event_time)
    if not isinstance(src.schema[event_time].dataType, TimestampType):
        # integer event times are epoch MICROSECONDS (the TestStream
        # convention in this repo, same as streaming_minhash_dedup)
        src = src.withColumn(
            event_time, F.timestamp_micros(F.col(event_time).cast("long")))
    # millisecond granularity (VERDICT r11 item 2 / ADVICE): the
    # old f"{gap_ms // 1000} seconds" floored sub-second gaps to a
    # 0 s watermark delay, silently late-dropping ANY out-of-order
    # arrival; ms granularity keeps the delay exactly one gap at
    # every gap size
    prepped = src.withWatermark(event_time, f"{gap_ms} milliseconds")
    prepped = prepped.select(
        F.col(key).cast("string").alias(key),
        F.col(event_time),
        F.unix_millis(F.col(event_time)).alias("__ts_ms__"))
    return stateful_per_key_group(prepped, key, step, out_schema, n_shards,
                                  timeout="EventTimeTimeout")
