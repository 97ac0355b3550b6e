#!/usr/bin/env bash
# Turn-end gate: a src/main tree that does not compile (or a Verify that
# cannot run) must never reach a snapshot — the r15 capture outage
# (BENCH_r15 rc 1, CORRECTNESS_r15 == {}) came from exactly that.
#
# Usage: tools/pregate.sh [sf-dir] [out-dir]
#   sf-dir  defaults to /root/testdata/sf0.001 (smallest fixture: fast)
#   out-dir defaults to a fresh temp dir, removed on success
#
# Exit 0 = no SparkSession.builder under src/main/scala outside Harness.scala,
# both trees compile AND graft.Verify completed on the fixture.
set -euo pipefail
cd "$(dirname "$0")/.."

# One way to build a session: graft.Harness. A hand-rolled builder drifts
# from it (the soaks once ran without Tables.requiredConfs).
stray=$(grep -rl "SparkSession.builder" src/main/scala | grep -v '/Harness\.scala$' || true)
if [ -n "$stray" ]; then
  echo "pregate: FAIL — SparkSession.builder outside Harness.scala:" $stray >&2
  exit 1
fi

SF_DIR="${1:-/root/testdata/sf0.001}"
OUT_DIR="${2:-$(mktemp -d /tmp/pregate.XXXXXX)}"

echo "pregate: sbt Test/compile (main + test trees)"
sbt -batch Test/compile

echo "pregate: graft.Verify on $SF_DIR -> $OUT_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"

# Sanity: Verify must have produced per-query output and the oracle dump.
test -s "$OUT_DIR/oracle_sql.json"
# Verify writes one directory per query, holding its parquet part files.
n=$(find "$OUT_DIR" -mindepth 2 -maxdepth 2 -name '*.parquet' -printf '%h\n' | sort -u | wc -l)
if [ "$n" -lt 1 ]; then
  echo "pregate: FAIL — Verify wrote no parquet results to $OUT_DIR" >&2
  exit 1
fi
echo "pregate: OK ($n query results, oracle_sql.json present)"
if [ -z "${2:-}" ]; then rm -rf "$OUT_DIR"; fi
