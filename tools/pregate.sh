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
# no graph-index Spark path in Hnsw.scala or Vamana.scala, no meta.json
# outside IndexFacet.scala, no HNSW/DISKANN/IVFPQ literal in
# GraftDataset.scala, no change-feed step called outside ChangeFeed.scala,
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

# One Spark path for the graph indexes: graft.operators.GraphIndex. Hnsw and
# Vamana keep only their graphs and row codecs; a shuffle, a per-partition
# pass or a part scan there is a second copy of that path, free to drift.
graph="src/main/scala/graft/operators/Hnsw.scala src/main/scala/graft/operators/Vamana.scala"
drift=$(grep -lE 'mapPartitions|\.repartition\(|partScans' $graph || true)
if [ -n "$drift" ]; then
  echo "pregate: FAIL — graph-index Spark path outside GraphIndex.scala:" $drift >&2
  exit 1
fi

# One meta codec: IndexMeta (in IndexFacet.scala) reads and writes every
# index and view meta file. A second reader or writer re-reads the file
# per field and writes it non-atomically, as the dataset once did.
meta=$(grep -rl 'meta\.json' src/main/scala | grep -v '/IndexFacet\.scala$' || true)
if [ -n "$meta" ]; then
  echo "pregate: FAIL — meta.json named outside IndexFacet.scala:" $meta >&2
  exit 1
fi

# One kind table: IndexFacet maps each vector-index type name to its code.
# A type literal in GraftDataset.scala is a second dispatch on the type.
kinds=$(grep -lE '"(HNSW|DISKANN|IVFPQ)"' src/main/scala/graft/format/GraftDataset.scala || true)
if [ -n "$kinds" ]; then
  echo "pregate: FAIL — index-type literal outside the kind table:" $kinds >&2
  exit 1
fi

# One change-feed walk: ChangeFeed.events. A call of one of its per-commit
# steps elsewhere is a second walk, free to drift from the first, as the
# batch feed and the streaming source once each wrote their own.
walk=$(grep -rlE '(changeEvents|schemaChangeEvent|requireDeltaExpressible)\(' src/main/scala | grep -v '/ChangeFeed\.scala$' || true)
if [ -n "$walk" ]; then
  echo "pregate: FAIL — change-feed step called outside ChangeFeed.scala:" $walk >&2
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
