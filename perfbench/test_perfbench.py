"""Self-test of the benchmark: every workload at sf0.001 on a minimal run.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once with tracing on.  The test checks that the run
prints every metric ``BENCHMARK.json`` names, with its unit (end-to-end
metrics on the ``# perfbench`` line, per-layer metrics in the result
line), and that no query or gate failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import covered, parse_sql_metric  # noqa: E402
from workloads import END_TO_END, LAYER_METRICS, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)


def test_contract_matches_code():
    assert [w["name"] for w in CONTRACT["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in CONTRACT["end_to_end"]} == {
        k: m.unit for k, m in END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in CONTRACT["per_layer"]} == {
        k: m.unit for k, m in LAYER_METRICS.items()}


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


def test_dedup_reference():
    import numpy as np

    from run import DEDUP_WITHIN_US as H, dedup_survivors

    def batch(*pairs):
        keys, times = zip(*pairs)
        return np.array(keys), np.array(times)

    # ids 1 and 2 are held until the watermark passes H.  Batch 0 drops
    # a near copy of 1, batch 1 a copy of 2 (watermark -H/2, nothing
    # evicted); batch 2 emits 3 and, at watermark 9H, evicts 1 and 2;
    # batch 3 emits the far copy of 1 again and drops a late row
    batches = [batch((1, 0), (2, 0), (1, H // 2)),
               batch((2, 10 * H)),
               batch((3, 20 * H)),
               batch((1, 30 * H), (4, 5 * H))]
    assert dedup_survivors(batches) == 4
    # with no second batch between them, the far copy is still held
    assert dedup_survivors([batches[0], batch((1, 30 * H))]) == 2


def test_parse_sql_metric():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "1.5 KiB (2 B, 3 B, 4 B (stage 1.0: task 2))"
                            ) == 1536
    assert parse_sql_metric("2.0 s") == 2.0
    assert parse_sql_metric("total (min, med, max)\n350 ms (1 ms, ...)"
                            ) == pytest.approx(0.35)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_prints_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", "1",
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    info = json.loads(next(ln for ln in lines
                           if ln.startswith("# perfbench "))[12:])
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, info["failures"]
    assert info["nproc"] >= 1 and info["pyspark"]
    e2e = info["end_to_end"]
    for m in CONTRACT["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"]
        assert e2e[m["name"]]["value"] > 0, m["name"]
    assert e2e["pass_ratio"]["value"] == 1.0
    for m in CONTRACT["per_layer"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] >= 0, m["name"]
    layer = result["metrics"]
    assert layer["engine.jobs"]["value"] > 0
    assert layer["host.canary_s"]["value"] > 0
    if WORKLOADS[workload].kind == "stream":
        assert layer["streaming.triggers"]["value"] > 0
        assert layer["streaming.dropped_late"]["value"] == 0
