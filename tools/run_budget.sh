#!/bin/bash
# Per-query time budget at sf0.1 — the round-5 lesson institutionalized.
# The sf0.01 correctness loop (run_verify.sh) cannot see a quadratic
# stage: it hid a 70 s shingle blowup and a 218 s uncapped index that
# only bit at 10x the data. This runs EVERY gated query at sf0.1 and
# fails (exit 2) if any exceeds $BUDGET seconds of wall time.
#
# Threshold: BUDGET=20 (default). Normal gated queries run < 5 s at
# sf0.1 on 32 threads; the known heavyweights (near-dup pipelines with
# bounded oracle-exact slices) stay under ~15 s. Anything past 20 s is
# a scaling bug, not a slow query.
#
# Usage: bash tools/run_budget.sh            # all queries
#        BUDGET=30 SF=... bash tools/run_budget.sh
set -e
cd "$(dirname "$0")/.."
SF=${SF:-/root/testdata/sf0.1}
OUT=${OUT:-/tmp/verify_budget_out}
BUDGET=${BUDGET:-20}
sbt -batch compile -error
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED"
rm -rf "$OUT"
SPARK_GRAFT_TIME_BUDGET=$BUDGET SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT"
echo "== all queries within ${BUDGET}s at $SF"
# surface the latest bench record's per-query noisy markers here too, so
# a ratio consumer reading both gates can't miss a contaminated min
# (run_bench.sh already refuses to RECORD such a run — exit 3/4/5)
BENCH_JSON=${BENCH_JSON:-/tmp/bench_last.json}
if [ -f "$BENCH_JSON" ]; then
  python3 - "$BENCH_JSON" <<'EOF'
import json, sys
try:
    d = json.load(open(sys.argv[1]))
except Exception:
    sys.exit(0)
noisy, failed = d.get("noisy", []), d.get("failed", [])
if noisy or failed or d.get("contended", False):
    print(f"== WARNING: latest bench record ({sys.argv[1]}) carries "
          f"noisy={noisy} failed={failed} contended={d.get('contended')}"
          " — its numbers are not clean; re-run tools/run_bench.sh",
          file=sys.stderr)
EOF
fi
