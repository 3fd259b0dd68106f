#!/usr/bin/env bash
# Oracle gate for a named subset of queries: runs graft.Verify on just
# those queries, then tools/oracle_check.py over its output, and
# requires one pass per query asked for and no failure.
#
#   tools/oracle_subset.sh <sf-dir> <q1,q2,...>
#
# Run from anywhere; sbt runs offline with the tier-1 environment of
# ROADMAP.md.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -ne 2 ]; then
  echo "usage: $0 <sf-dir> <q1,q2,...>" >&2
  exit 2
fi
sf="$1"
queries="$2"
n="$(echo "$queries" | tr ',' '\n' | grep -c .)"

out="$(mktemp -d "${TMPDIR:-/tmp}/oracle-subset.XXXXXX")"
trap 'rm -rf "$out"' EXIT

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf $out/verify $queries"

# Verify logs a query that throws and goes on; the oracle check then
# fails it for its missing output
python3 tools/oracle_check.py "$sf" "$out/verify" | tee "$out/oracle.txt"
grep -qx "$n pass, 0 fail" "$out/oracle.txt"
echo "oracle_subset: $n/$n oracle-green on $sf"
