"""Trigger-emulation tests: early firings via update mode, count
triggers with pane metadata via the stateful operator."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from apache_beam_spark.streaming import TestStream, run_to_memory, windowed_aggregate
from apache_beam_spark.streaming.triggers import count_trigger_aggregate
from apache_beam_spark.windowing import FixedWindows

SCHEMA = "user string, ts timestamp, amount double"


def _rows(*tuples):
    return [{"user": u, "ts": t, "amount": a} for u, t, a in tuples]


def test_early_firings_update_mode(spark, tmp_path):
    """AfterWatermark.withEarlyFirings ≈ update mode: a window still
    open at the end of a micro-batch emits its partial (early pane);
    later batches re-emit the refined value — the reference's
    early-pane refinement, minus the pane index."""
    ts = TestStream(str(tmp_path / "spool"))
    ts.add_elements(_rows(("a", "2024-01-01 00:00:10", 1.0)))
    ts.add_elements(_rows(("a", "2024-01-01 00:00:20", 2.0)))  # same window
    sdf = windowed_aggregate(
        ts.stream(spark, SCHEMA), FixedWindows("1 minute"), "ts",
        aggs=[F.sum("amount").alias("total")], keys=["user"],
        allowed_lateness="0 seconds",
    )
    got = run_to_memory(sdf, "update").toPandas()
    # two panes for the same window: early (1.0) then refined (3.0)
    totals = sorted(got.total.tolist())
    assert totals == [1.0, 3.0]


def test_count_trigger_sharded_equals_unsharded(spark, tmp_path):
    """The key-group count changes no pane: one group (every key in
    one state blob), three, and the default emit identical panes
    across keys, batch boundaries, and both accumulation modes."""
    batches = [
        _rows(("a", "2024-01-01 00:00:01", 1.0), ("b", "2024-01-01 00:00:01", 10.0),
              ("a", "2024-01-01 00:00:02", 2.0)),
        _rows(("b", "2024-01-01 00:00:03", 20.0), ("a", "2024-01-01 00:00:04", 3.0),
              ("a", "2024-01-01 00:00:05", 4.0), ("b", "2024-01-01 00:00:06", 30.0),
              ("a", "2024-01-01 00:00:07", 5.0)),
    ]
    for accumulating in (True, False):
        results = []
        for shards in (1, 3, None):
            spool = str(tmp_path / f"sp_{accumulating}_{shards}")
            ts = TestStream(spool)
            for b in batches:
                ts.add_elements(b)
            kw = {} if shards is None else {"n_shards": shards}
            out = count_trigger_aggregate(
                ts.stream(spark, SCHEMA), key="user", value_col="amount",
                fire_every=2, accumulating=accumulating, **kw)
            got = run_to_memory(out, "append").toPandas()
            results.append(sorted(map(tuple, got.itertuples(index=False))))
        assert results[0] == results[1] == results[2]
        assert len(results[0]) == 3


def test_count_trigger_discarding_vs_accumulating(spark, tmp_path):
    batches = [
        _rows(("a", "2024-01-01 00:00:01", 1.0), ("a", "2024-01-01 00:00:02", 2.0)),
        _rows(("a", "2024-01-01 00:00:03", 3.0), ("a", "2024-01-01 00:00:04", 4.0),
              ("a", "2024-01-01 00:00:05", 5.0)),
    ]

    for accumulating, expected_totals in [(True, [3.0, 10.0]), (False, [3.0, 7.0])]:
        spool = str(tmp_path / f"spool_{accumulating}")
        ts = TestStream(spool)
        for b in batches:
            ts.add_elements(b)
        out = count_trigger_aggregate(
            ts.stream(spark, SCHEMA), key="user", value_col="amount",
            fire_every=2, accumulating=accumulating)
        got = run_to_memory(out, "append").toPandas().sort_values("pane_index")
        assert got.pane_index.tolist() == [0, 1]
        assert got.n_in_pane.tolist() == [2, 2]
        assert got.total.tolist() == expected_totals
        # 5th element stays buffered: no pane 2 until 6th arrives
