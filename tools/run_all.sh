#!/usr/bin/env bash
# Full reproduction: tests -> oracle sweep -> bench -> scaling evidence.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
# the tier-1 command (ROADMAP.md): report every failure, not the first
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

echo "== DuckDB oracle sweep (sf0.01) =="
python tools/verify_local.py

echo "== bench (sf0.1) =="
python bench.py

echo "== scaling evidence (local-cluster 1 -> 4 executors) =="
python tools/bench_scaling.py

echo "== single-node reference-style comparison =="
python tools/bench_reference_style.py

echo "== measured shuffle bytes (SCALE.md evidence) =="
python tools/measure_shuffles.py

echo "== operator coverage report =="
python tools/coverage_report.py

echo "== done; see BENCH/BASELINE.md =="
