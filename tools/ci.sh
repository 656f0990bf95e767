#!/usr/bin/env bash
# Full local gate — run before any end-of-round commit.
#
# Ordered cheapest-first so the registry/import failure class (which
# emptied round 2's scoreboard) dies in seconds, not after the suite.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/9 registry import guard + worker daemon (every Python UDF forks from it)"
python -m pytest tests/test_registry.py \
    tests/test_worker_daemon.py::test_unchanged_archive_is_not_reread -q

echo "== 2/9 benchmark unit tests (perfbench/)"
python -m pytest perfbench/tests -q

echo "== 3/9 probe families at their smallest size (planted-truth asserts)"
for family in "sf 0.001" "synth 10000" "template 10000" "graph 102000" \
        "cc 100000" "skew 102000" "pysource 20000" "stream 1000"; do
    python tools/probe.py scale $family  # unquoted: "family size" is two args
done
python tools/probe.py time --sf /root/testdata/sf0.001 --reps 1 q1_pricing_summary

echo "== 4/9 full test suite"
python -m pytest tests/ -q

echo "== 5/9 oracle result-type lint (no HUGEINT/exotic types in any oracle output)"
python tools/oracle_check.py --typelint /root/testdata/sf0.01

echo "== 6/9 oracle gate (sf0.01, every declared query vs DuckDB)"
python tools/oracle_check.py /root/testdata/sf0.01

echo "== 7/9 plan audit (includes srclint sum-over-hash)"
python tools/plan_audit.py

echo "== 8/9 shuffle-partition shake (iterative/ANSI-overflow-prone queries)"
python tools/oracle_check.py --shake /root/testdata/sf0.01

echo "== 9/9 bench (fails loudly on any query error)"
python bench.py

echo "CI: all gates green"
