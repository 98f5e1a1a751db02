from __future__ import annotations

import tempfile
from collections import Counter

from apache_beam_spark.streaming.heavy import streaming_heavy_hitters
from apache_beam_spark.streaming.sources import TestStream, read_bounded

SCHEMA = "ts bigint, item string"
M = 60_000_000
BASE = 24 * 60 * M  # stay above the initial watermark (epoch 0)
W = 10 * 60_000     # 10-minute windows (ms)


def _run(spark, batches, **kw):
    ts = TestStream(tempfile.mkdtemp(prefix="shh_"))
    for b in batches:
        ts.add_elements(b)
    sdf = streaming_heavy_hitters(ts.stream(spark, SCHEMA), "item",
                                  window_ms=W, **kw)
    return {(r.window_start, r.item): r.approx_count
            for r in read_bounded(sdf).collect()}


def _ev(minutes, item):
    return {"ts": BASE + minutes * M, "item": item}


def test_exact_when_capacity_covers_cardinality(spark):
    rows = ([_ev(1, "a")] * 5 + [_ev(2, "b")] * 3 + [_ev(3, "c")]
            + [_ev(11, "a")] * 2 + [_ev(12, "d")] * 4)
    batches = [rows[:6], rows[6:], [_ev(600, "zz")], [_ev(601, "zz")]]
    got = _run(spark, batches, capacity=50, min_count=2)
    w0, w1 = BASE, BASE + W * 1000
    assert got == {(w0, "a"): 5, (w0, "b"): 3, (w1, "a"): 2, (w1, "d"): 4}


def test_capacity_bound_keeps_true_heavy_hitter(spark):
    # 40 x "hot" + 30 distinct singletons, capacity 5: n=70, the MG
    # guarantee keeps any item with count > 70/6 ≈ 11.7
    rows = [_ev(1, "hot")] * 40 + [_ev(2, f"u{i}") for i in range(30)]
    got = _run(spark, [rows, [_ev(600, "z")], [_ev(601, "z")]],
               capacity=5, min_count=20)
    hits = {item for (_, item) in got}
    assert hits == {"hot"}
    # undercount bounded by n/(capacity+1)
    (count,) = got.values()
    assert 40 - 70 // 6 <= count <= 40


def test_late_window_does_not_reopen(spark):
    batches = [
        [_ev(1, "a")] * 3,
        [_ev(600, "z")],            # watermark passes window 0: emits
        [_ev(2, "a")] * 5,          # late rows for the closed window
        [_ev(601, "z")], [_ev(602, "z")],
    ]
    got = _run(spark, batches, capacity=10, min_count=1)
    w0 = BASE
    assert got[(w0, "a")] == 3  # the late 5 never re-open the window


def test_sharded_matches_unsharded(spark):
    rows = ([_ev(1, "a")] * 5 + [_ev(2, "b")] * 3 + [_ev(3, "c")]
            + [_ev(11, "a")] * 2 + [_ev(12, "d")] * 4
            + [_ev(21, "e")] * 6)
    batches = [rows[:6], rows[6:], [_ev(600, "zz")], [_ev(601, "zz")]]
    # one group (every window in one state blob), three, the default
    one = _run(spark, batches, capacity=50, min_count=2, n_shards=1)
    three = _run(spark, batches, capacity=50, min_count=2, n_shards=3)
    default = _run(spark, batches, capacity=50, min_count=2)
    assert one == three == default and len(one) == 5
