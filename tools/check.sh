#!/bin/sh
# Full verification recipe, one command (see .claude/skills/verify/SKILL.md):
#   1. unit/streaming/plan tests               (~10 min)
#   2. full-registry DuckDB oracle parity      (~12 min)
#   3. driver-shaped window canonicalization   (~4 min)
#   4. benchmark-of-record self-tests, no Spark (seconds)
# Usage: tools/check.sh  (from the repo root)
set -e
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD"

python -m pytest tests/ -q
python tests/oracle_harness.py /root/testdata/sf0.01
# Driver-shaped gate: the 50-entry PRIORITY window must canonicalize
# under the driver's pandas contract (sortable + hashable cells) AND
# value-match its oracles — catches v06/m01/m02-class output-shape
# failures the tuple-based harness above cannot see.
python tools/selfcheck_window.py /root/testdata/sf0.01
python3 -m pytest medallion_bench/tests -q
