"""The five Python-stateful streaming operators share one state layout
(``streaming/stateful.py::stateful_per_key_group``): each plans exactly
one grouped state operator, grouped by the key-group column alone, and
a group count below one is rejected before any plan is built.

Results not depending on the group count is pinned per operator, next
to its other semantics tests (the ``*_sharded_matches_unsharded``
tests)."""

from __future__ import annotations

import tempfile

import pytest

from apache_beam_spark.plans.inspect import _subtrees
from apache_beam_spark.streaming.heavy import streaming_heavy_hitters
from apache_beam_spark.streaming.sequences import streaming_funnel
from apache_beam_spark.streaming.sources import TestStream
from apache_beam_spark.streaming.stateful import (
    _KEY_GROUP_COL, streaming_rate_limit, streaming_sessions_strict)
from apache_beam_spark.streaming.triggers import count_trigger_aggregate

SCHEMA = ("user string, user_id long, event_id long, ts timestamp, "
          "event_type string, amount double")

OPERATORS = {
    "heavy_hitters": lambda sdf, **kw: streaming_heavy_hitters(
        sdf, "event_type", window_ms=60_000, **kw),
    "funnel": lambda sdf, **kw: streaming_funnel(
        sdf, ["view", "click"], within_ms=60_000, **kw),
    "count_trigger": lambda sdf, **kw: count_trigger_aggregate(
        sdf, key="user", value_col="amount", fire_every=2, **kw),
    "rate_limit": lambda sdf, **kw: streaming_rate_limit(
        sdf, key="user", event_time="ts", id_col="event_id",
        window_ms=60_000, max_per_window=3, **kw),
    "sessions_strict": lambda sdf, **kw: streaming_sessions_strict(
        sdf, "user", "ts", gap_ms=60_000, **kw),
}


def _source(spark):
    ts = TestStream(tempfile.mkdtemp(prefix="keygroups_"))
    ts.add_elements([{"user": "a", "user_id": 1, "event_id": 1,
                      "ts": "2024-01-01T00:00:10Z", "event_type": "view",
                      "amount": 1.0}])
    return ts.stream(spark, SCHEMA)


def test_one_grouped_state_operator_by_key_group(spark):
    for op, build in OPERATORS.items():
        sdf = build(_source(spark))
        nodes = [n for n in _subtrees(sdf._jdf.queryExecution().analyzed())
                 if n.nodeName() == "FlatMapGroupsInPandasWithState"]
        assert len(nodes) == 1, op
        grouping = nodes[0].groupingAttributes()
        assert grouping.size() == 1, op
        assert grouping.apply(0).name() == _KEY_GROUP_COL, op


def test_zero_key_groups_rejected(spark):
    for op, build in OPERATORS.items():
        with pytest.raises(ValueError, match="n_shards"):
            build(_source(spark), n_shards=0)
