#!/usr/bin/env bash
# End-of-round artifact checklist (round-7 verdict item 5): every round must
# COMMIT its own full-catalog correctness proof and shuffle audit, not leave
# them for the judge to regenerate. Run from the repo root once the round's
# code is settled (sequentially — bench is load-sensitive, and concurrent
# Spark sessions inflate its numbers 30%+):
#
#   bash scripts/round_artifacts.sh <round-number>
#
# Produces/refreshes:
#   CORRECTNESS_full_r{N}.json   full 260+-query DuckDB-oracle sweep (sf0.01)
#   docs/BENCH_full_r{N}.json    complete bench artifact (bench.py side copy):
#                                walls, per-execution stage metrics and the
#                                shuffle-bytes regression gate
# and re-runs the FULL pytest suite last so the committed artifacts are
# paired with a green-suite statement.
set -euo pipefail
cd "$(dirname "$0")/.."

N=$(printf '%02d' "${1:?usage: round_artifacts.sh <round-number>}")

echo "== prior-round bench artifact equality (round-9 verdict item 2) =="
python scripts/check_bench_artifact.py

echo "== full-catalog correctness sweep =="
SIM_JSON_OUT="CORRECTNESS_full_r${N}.json" python scripts/driver_sim.py

echo "== bench (walls, plus per-execution stage metrics and the shuffle gate) =="
python bench.py

echo "== shuffle gate (fails the round on a shuffle or spill regression) =="
python -c 'import sys, bench; sys.exit(bench.check_shuffle_gate(sys.argv[1]))' \
    "docs/BENCH_full_r${N}.json"

echo "== full test suite =="
# -m "" overrides pytest.ini's default "not slow" deselection (r14): the
# round-close run covers EVERY tier, including the two catalog-wide
# sweeps the driver's verify window can't hold
python -m pytest tests/ -q -m ""

echo "round ${N} artifacts complete"
