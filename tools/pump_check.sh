#!/usr/bin/env bash
# Pump gate: the pump specs, then the four pump queries (q40, q91, q244,
# q245) checked against their DuckDB oracles. Exits non-zero on any
# failure.
#
#   tools/pump_check.sh [sf-dir]      (default: /root/testdata/sf0.01)
#
# Run from anywhere; sbt runs offline with the tier-1 environment of
# ROADMAP.md.
set -euo pipefail
cd "$(dirname "$0")/.."

sf="${1:-/root/testdata/sf0.01}"
queries="q40_pump_roundtrip,q91_dsv2_roundtrip,q244_pump_dlq,q245_stream_dlq"
specs="graft.TechLogSourceSpec graft.RecordAssemblerSpec graft.TechLogParserSpec
  graft.ParserPropertySpec graft.TransformSpec graft.StreamingPumpSpec
  graft.PumpResumeSpec graft.PumpMainSpec graft.LogPumpSpec graft.ConfigSpec
  graft.ClickHouseSinkSpec graft.LocalFsSpec"

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

# sbt --batch stops at the first failing command and exits non-zero
sbt --batch -Dsbt.log.noformat=true "testOnly $(echo $specs)"
tools/oracle_subset.sh "$sf" "$queries"
echo "pump_check: all pump specs green, $queries oracle-green on $sf"
