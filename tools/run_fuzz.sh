#!/bin/bash
# Randomized differential fuzzing: generate N random operator pipelines
# (graft.fuzz.FuzzGen), run them on Spark, then diff every result against
# DuckDB running the equivalent SQL (tools/check.py — the same comparator
# as the round driver's correctness gate). Replay a failure with:
#   N=1 SEED=<seed> bash tools/run_fuzz.sh
# (add BASE=events, BASE=events_slice, BASE=events_concat, or
# BASE=lineitem to force the source table — needed to replay pinned seeds
# recorded before a base existed or before the seed→base mapping changed;
# BASE=cs runs the cs_* SQL-surface leg alone (a quarter of its seeds
# route to the align grammar); BASE=csalign forces the align leg —
# cs_asof_join(_pos)/cs_join(_pos)/cs_stretch/cs_stretch0 plus the
# backward cs_asof lookup — for every seed. A default run also appends a cs batch at N/4 volume, named
# fuzzcs_<seed>.)
# The program text for every seed is in $OUT/programs.txt.
set -eo pipefail
cd "$(dirname "$0")/.."
SF=${SF:-/root/testdata/sf0.01}
OUT=${OUT:-/tmp/fuzz_out}
N=${N:-200}
SEED=${SEED:-1}
# graft.fuzz is test-side code: Test/compile builds it into test-classes
sbt -batch Test/compile -error
CP="target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.fuzz.Fuzz "$SF" "$OUT" "$N" "$SEED" ${BASE:-} 2> >(grep -E '^\[fuzz\]' >&2 || true)
python3 tools/check.py "$SF" "$OUT"
