#!/bin/bash
# Fresh-seed crash soaking: run SoakSpec's kill-soak and StreamIngestSpec's
# two crash-point fuzzes K times (default 5) in one sbt session, each run
# with -Dgraft.soak.seed=now, and print every seed drawn under its test.
# The standing suite runs these tests at fixed seeds; fresh seeds widen
# the kill schedules they cover. Replay a failing seed with
#   sbt 'set Test / javaOptions += "-Dgraft.soak.seed=<seed>"' \
#     'testOnly graft.SoakSpec graft.StreamIngestSpec -- -z soak: -z "crash-point fuzz"'
# and pin it as a named regression. sbt stops at the first failing run.
# The full sbt output is kept in /tmp/run_soak.log.
#   K=10 bash tools/run_soak.sh
set -o pipefail
cd "$(dirname "$0")/.."
K=${K:-5}
runs=()
for _ in $(seq "$K"); do
  runs+=('testOnly graft.SoakSpec graft.StreamIngestSpec -- -z soak: -z "crash-point fuzz"')
done
sbt -batch 'set Test / javaOptions += "-Dgraft.soak.seed=now"' "${runs[@]}" 2>&1 |
  tee /tmp/run_soak.log | grep -E '^\[info\] (- |  \+ soak seed|Tests:)|FAILED|\[error\]'
