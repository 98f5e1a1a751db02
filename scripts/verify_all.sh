#!/usr/bin/env bash
# One-command verification: full test suite, full DuckDB oracle sweep
# at BOTH sf0.01 and sf0.1 (tri-scale greenness stays continuously
# certified — VERDICT r3 item 5; sf0.001 is covered by the driver's
# entry() smoke), the perfbench self-test (both BENCHMARK.json
# workloads, traced, at sf0.001) and the sf0.1 benchmark. Run each
# stage ALONE on the machine — concurrent Spark jobs skew walls 30-50%
# (see SCALING.md).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/5 pytest =="
python -m pytest tests/ -q

echo "== 2/5 oracle sweep (sf0.01) =="
python scripts/oracle_check.py /root/testdata/sf0.01

echo "== 3/5 oracle sweep (sf0.1) =="
python scripts/oracle_check.py /root/testdata/sf0.1

echo "== 4/5 perfbench self-test =="
python3 -m pytest perfbench/test_perfbench.py -q

echo "== 5/5 bench (sf0.1) =="
python bench.py
