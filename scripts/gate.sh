#!/usr/bin/env bash
# One-command local replica of the driver's round gate:
#   compile → Verify at sf → DuckDB oracle compare (strict) → Bench.
# Usage: scripts/gate.sh [sf-dir] [bench-sf-dir] [query-filter]
# query-filter: comma-separated query-name substrings (e.g. q36_,q153_),
# passed to Verify as its third argument; the oracle compare then covers
# only those queries, and Bench is skipped.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
BENCH_SF="${2:-/root/testdata/sf0.1}"
FILTER="${3:-}"
OUT="$(mktemp -d /tmp/graft_gate.XXXX)"
echo "== compile =="
sbt -batch compile | tail -1
echo "== verify ($SF${FILTER:+, queries $FILTER}) =="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify $SF $OUT${FILTER:+ $FILTER}" 2>&1 \
  | grep -E '\[verify\]' || true
echo "== oracle compare =="
python3 scripts/check.py "$SF" "$OUT"
if [ -n "$FILTER" ]; then
  echo "== bench skipped (query filter given) =="
  exit 0
fi
echo "== bench ($BENCH_SF) =="
SPARK_GRAFT_SF_DIR="$BENCH_SF" sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
