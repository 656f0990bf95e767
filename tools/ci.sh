#!/usr/bin/env bash
# Full local gate — run before any end-of-round commit.
#
# Ordered cheapest-first so the registry/import failure class (which
# emptied round 2's scoreboard) dies in seconds, not after the suite.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/8 registry import guard + worker daemon (every Python UDF forks from it)"
python -m pytest tests/test_registry.py \
    tests/test_worker_daemon.py::test_unchanged_archive_is_not_reread -q

echo "== 2/8 benchmark unit tests (perfbench/)"
python -m pytest perfbench/tests -q

echo "== 3/8 full test suite"
python -m pytest tests/ -q

echo "== 4/8 oracle result-type lint (no HUGEINT/exotic types in any oracle output)"
python tools/oracle_check.py --typelint /root/testdata/sf0.01

echo "== 5/8 oracle gate (sf0.01, every declared query vs DuckDB)"
python tools/oracle_check.py /root/testdata/sf0.01

echo "== 6/8 plan audit (includes srclint sum-over-hash)"
python tools/plan_audit.py

echo "== 7/8 shuffle-partition shake (iterative/ANSI-overflow-prone queries)"
python tools/oracle_check.py --shake /root/testdata/sf0.01

echo "== 8/8 bench (fails loudly on any query error)"
python bench.py

echo "CI: all gates green"
