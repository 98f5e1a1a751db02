"""Trigger-transcript corpus (reference methodology:
``sdks/python/apache_beam/testing/data/trigger_transcripts.yaml`` run by
``transforms/trigger_test.py`` — scripted (inputs, watermark moves) →
expected per-window panes).

Re-expressed for the Spark engine: each transcript step becomes one
TestStream micro-batch; ``watermark: N`` is realized by a sentinel
element on a reserved key (Spark's watermark only advances from data);
expectations check the default trigger's single on-time pane per window
— the append-mode contract that exactly matches the reference's
``DefaultTrigger`` (DefaultTrigger.java:31).  Pane metadata
(early/late firings) is out of scope here: divergence documented in
SURVEY.md §2.8.

Timestamps are seconds since epoch, as in the reference corpus.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from apache_beam_spark.streaming import TestStream, read_bounded, windowed_aggregate
from apache_beam_spark.windowing import (
    EARLIEST,
    END_OF_WINDOW,
    LATEST,
    FixedWindows,
    Sessions,
    SlidingWindows,
)

SCHEMA = "k string, ts timestamp"
SENTINEL = "__wm__"

TRANSCRIPTS = [
    {
        # fixed windows, default trigger: one on-time pane per window
        "name": "fixed_default",
        "window_fn": FixedWindows("10 seconds"),
        "transcript": [
            {"input": [1, 2, 3, 10, 11]},
            {"watermark": 25},
        ],
        "expect": [
            {"window": (0, 10), "values": [1, 2, 3]},
            {"window": (10, 20), "values": [10, 11]},
        ],
    },
    {
        # data arriving beyond the watermark is dropped (the reference's
        # allowed-lateness-exceeded path, LateDataDroppingDoFnRunner)
        "name": "fixed_default_late_data_dropped",
        "window_fn": FixedWindows("10 seconds"),
        "allowed_lateness": "0 seconds",
        "transcript": [
            {"input": [1, 2, 3, 10, 11]},
            {"watermark": 100},
            {"watermark": 101},   # extra advance: Spark's filter lags a batch
            {"input": [7]},       # late for window [0,10) -> dropped
            {"watermark": 200},
        ],
        "expect": [
            {"window": (0, 10), "values": [1, 2, 3]},
            {"window": (10, 20), "values": [10, 11]},
        ],
    },
    {
        "name": "timestamp_combiner_eow",
        "window_fn": FixedWindows("10 seconds"),
        "timestamp_combiner": END_OF_WINDOW,
        "transcript": [{"input": [1, 2, 3, 10, 11]}, {"watermark": 100}],
        "expect": [
            {"window": (0, 10), "values": [1, 2, 3], "timestamp": 10},
            {"window": (10, 20), "values": [10, 11], "timestamp": 20},
        ],
    },
    {
        "name": "timestamp_combiner_earliest",
        "window_fn": FixedWindows("10 seconds"),
        "timestamp_combiner": EARLIEST,
        "transcript": [{"input": [1, 2, 3, 10, 11]}, {"watermark": 100}],
        "expect": [
            {"window": (0, 10), "values": [1, 2, 3], "timestamp": 1},
            {"window": (10, 20), "values": [10, 11], "timestamp": 10},
        ],
    },
    {
        "name": "timestamp_combiner_latest",
        "window_fn": FixedWindows("10 seconds"),
        "timestamp_combiner": LATEST,
        "transcript": [{"input": [1, 2, 3, 10, 11]}, {"watermark": 100}],
        "expect": [
            {"window": (0, 10), "values": [1, 2, 3], "timestamp": 3},
            {"window": (10, 20), "values": [10, 11], "timestamp": 11},
        ],
    },
    {
        # sliding windows: every element in size/period windows
        "name": "sliding_default",
        "window_fn": SlidingWindows("10 seconds", "5 seconds"),
        "transcript": [{"input": [1, 7]}, {"watermark": 100}],
        "expect": [
            {"window": (-5, 5), "values": [1]},
            {"window": (0, 10), "values": [1, 7]},
            {"window": (5, 15), "values": [7]},
        ],
    },
    {
        # sessions with 10s gap: [1,2,3] merge; 20 starts a new session
        "name": "sessions_default",
        "window_fn": Sessions("10 seconds"),
        "transcript": [{"input": [1, 2, 3, 20]}, {"watermark": 100}],
        "expect": [
            {"window": (1, 13), "values": [1, 2, 3]},
            {"window": (20, 30), "values": [20]},
        ],
    },
    {
        # session MERGING across micro-batches: 1 and 8 arrive in
        # different batches but are within the gap -> ONE session (the
        # reference's MergingActiveWindowSet behavior, state-merged here
        # by Spark's session aggregation)
        "name": "sessions_merge_across_batches",
        "window_fn": Sessions("10 seconds"),
        "transcript": [
            {"input": [1]},
            {"input": [8]},
            {"input": [15]},     # still chained: 8+10 > 15
            {"watermark": 100},
        ],
        "expect": [
            {"window": (1, 25), "values": [1, 8, 15]},
        ],
    },
    {
        # sliding windows + late data: the late element is dropped from
        # EVERY window it would have joined
        "name": "sliding_late_data_dropped",
        "window_fn": SlidingWindows("10 seconds", "5 seconds"),
        "allowed_lateness": "0 seconds",
        "transcript": [
            {"input": [12]},
            {"watermark": 200},
            {"watermark": 201},
            {"input": [13]},     # late -> dropped everywhere
            {"watermark": 300},
        ],
        "expect": [
            {"window": (5, 15), "values": [12]},
            {"window": (10, 20), "values": [12]},
        ],
    },
]


def _run_transcript(case, spark, spool_dir):
    ts = TestStream(spool_dir)
    for step in case["transcript"]:
        if "input" in step:
            ts.add_elements([{"k": "key", "ts": _epoch(t)} for t in step["input"]])
        elif "watermark" in step:
            ts.add_elements([{"k": SENTINEL, "ts": _epoch(step["watermark"])}])

    sdf = windowed_aggregate(
        ts.stream(spark, SCHEMA), case["window_fn"], "ts",
        aggs=[
            F.sort_array(F.collect_list(F.unix_timestamp("ts"))).alias("values"),
            F.unix_timestamp(F.min("ts")).alias("min_ts"),
            F.unix_timestamp(F.max("ts")).alias("max_ts"),
        ],
        keys=["k"],
        allowed_lateness=case.get("allowed_lateness", "0 seconds"),
    )
    out = read_bounded(sdf, "append")
    rows = (out.filter(F.col("k") != SENTINEL)
            .select(F.unix_timestamp("window.start").alias("wstart"),
                    F.unix_timestamp("window.end").alias("wend"),
                    "values", "min_ts", "max_ts")
            .collect())
    return sorted(rows, key=lambda r: (r["wstart"], r["wend"]))


def _epoch(seconds: int) -> str:
    return pd.Timestamp(seconds, unit="s").strftime("%Y-%m-%d %H:%M:%S")


@pytest.mark.parametrize("case", TRANSCRIPTS, ids=lambda c: c["name"])
def test_transcript(case, spark, tmp_path):
    got = _run_transcript(case, spark, str(tmp_path / "spool"))
    assert len(got) == len(case["expect"]), \
        f"{case['name']}: {len(got)} windows != {len(case['expect'])}"
    combiner = case.get("timestamp_combiner")
    for row, want in zip(got, case["expect"]):
        assert (row["wstart"], row["wend"]) == want["window"], case["name"]
        assert row["values"] == want["values"], case["name"]
        if "timestamp" in want:
            out_ts = {END_OF_WINDOW: row["wend"], EARLIEST: row["min_ts"],
                      LATEST: row["max_ts"]}[combiner]
            assert out_ts == want["timestamp"], case["name"]
