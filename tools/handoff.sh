#!/usr/bin/env bash
# Round-20 handoff dry run: every gate a fresh operator needs, from a
# clean checkout, in one command. Green = the tree is shippable.
#
#   bash tools/handoff.sh            # full pass (~45 min: sbt test is
#                                    # the long pole, then Verify+Bench)
#   SF=/root/testdata/sf0.001 bash tools/handoff.sh   # faster smoke
#
# Stages:
#   0. single read path    — fails when src/main reads parquet through
#                            a `.read` chain with no `.schema(`, on one
#                            line or across several, outside Tables.scala
#                            and the probe mains: every other read goes
#                            through `Tables.parquet` or passes a fixed
#                            schema, so none starts a schema-inference
#                            job (seconds).
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
# A `.read` chain (over any number of lines and `.option(…)` calls) that
# reaches `.parquet(` without a `.schema(…)` starts a schema-inference
# job; prints each one as file:line.
if python3 - <<'PY'
import glob, re, sys
call = r"\s*\.\s*\w+\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"
chain = re.compile(r"\.read(?!\w)((?:" + call + r")*?)\s*\.\s*parquet\s*\(")
exempt = re.compile(r"src/main/scala/graft/(Tables|ScaleProbe|IndexProbe|CandidateProbe)\.scala$")
hits = 0
for f in sorted(glob.glob("src/main/**/*.scala", recursive=True)):
    if exempt.search(f):
        continue
    text = open(f, encoding="utf-8").read()
    for m in chain.finditer(text):
        if not re.search(r"\.\s*schema\s*\(", m.group(1)):
            line = text.count("\n", 0, m.start()) + 1
            print(f"{f}:{line}: {text.splitlines()[line - 1].strip()}")
            hits += 1
sys.exit(1 if hits else 0)
PY
then :
else
  echo "src/main reads parquet without a schema outside Tables.parquet (lines above)"
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
