#!/usr/bin/env bash
# Round-20 handoff dry run: every gate a fresh operator needs, from a
# clean checkout, in one command. Green = the tree is shippable.
#
#   bash tools/handoff.sh            # full pass (~45 min: sbt test is
#                                    # the long pole, then Verify+Bench)
#   SF=/root/testdata/sf0.001 bash tools/handoff.sh   # faster smoke
#
# Stages:
#   0. single read path    — fails when src/main reads parquet with a
#                            bare `.read.parquet(` outside Tables.scala
#                            and the probe mains: every other read goes
#                            through `Tables.parquet`, which starts no
#                            schema-inference job (seconds).
#   1. sbt test            — all suites, incl. the Maintenance.runAll
#                            janitor pass over a mixed five-store tree
#                            (MediaStreamSpec) and the store-lifecycle
#                            crash/lease cases.
#   2. Verify + check.py   — the correctness gate: every query dumped at
#                            SF, replayed in DuckDB, hash-compared.
#   3. coverage_check.py   — SURVEY.md §2.10 inventory vs code drift.
#   4. Bench               — the perf gate's JSON line (driver runs it
#                            at sf0.1; per-query band guard + re-run
#                            annotations ride the artifact).
#   5. PlanDump            — condensed physical-plan snapshot of the
#                            flagship queries, for the plan-shape diff.
#   6. perfbench build     — compiles src/main with the benchmark's
#                            harness the way perfbench/run.py does, so a
#                            source change that breaks the benchmark
#                            build fails here.
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${SF:-/root/testdata/sf0.01}

echo "== 0/6 single parquet read path (Tables.parquet)"
if grep -rn --include='*.scala' '\.read\.parquet(' src/main \
    | grep -v -e '^src/main/scala/graft/Tables\.scala:' \
      -e '^src/main/scala/graft/\(Scale\|Index\|Candidate\)Probe\.scala:'
then
  echo "src/main reads parquet outside Tables.parquet (lines above)"
  exit 1
fi

echo "== 1/6 sbt test (all suites)"
sbt -batch test

echo "== 2/6 correctness: Verify dump + DuckDB oracle replay at $SF"
rm -rf /tmp/graft_handoff_verify
sbt -batch "runMain graft.Verify $SF /tmp/graft_handoff_verify"
python3 tools/check.py /tmp/graft_handoff_verify "$SF"

echo "== 3/6 SURVEY inventory vs code"
python3 tools/coverage_check.py

echo "== 4/6 bench (one JSON line must start at column 0)"
SPARK_GRAFT_SF_DIR="$SF" sbt -batch "runMain graft.Bench" \
  | grep -E '^\{' | tail -1

echo "== 5/6 plan snapshot"
sbt -batch "runMain graft.PlanDump" > /tmp/graft_handoff_plans.txt
echo "plans at /tmp/graft_handoff_plans.txt"

echo "== 6/6 perfbench build (program + harness)"
python3 perfbench/build.py

echo "HANDOFF GREEN"
