#!/bin/bash
# Fast local verify loop: compile via sbt, run graft.Verify with a cached
# classpath, then diff against DuckDB with tools/check.py.
#
# A change meant to leave every result as it was can also be checked
# against its parent's dumps, row for row: run this script in a checkout
# of each revision with a different OUT, then
#   python3 tools/diff_dumps.py <parent OUT> <change OUT>
# which exits non-zero unless both hold the same queries with equal Arrow
# schemas (nullability included), equal row multisets and an equal
# oracle_sql.json.
set -e
cd "$(dirname "$0")/.."
SF=${SF:-/root/testdata/sf0.01}
OUT=${OUT:-/tmp/verify_out}
sbt -batch compile -error
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>/dev/null
python3 tools/check.py "$SF" "$OUT" "$@"
