#!/bin/sh
# Pre-commit routine (VERDICT r2 #2): full test suite, then the oracle
# replica in BOTH default and timezone-adversarial modes, so a driver-only
# red row like r1/r2's tumbling_events can't survive two rounds again.
# The benchmark's own parser and gate tests run first (a few seconds).
# The full suite prints its 15 slowest tests, since its wall time is
# tracked alongside the perf numbers.
# Usage: sh scripts/precommit.sh [sf_dir]
set -e
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
python -m pytest perfbench/tests -q
python -m pytest tests/ -x -q --durations=15
python scripts/check_oracle.py "$SF"
python scripts/check_oracle.py "$SF" --adversarial
