#!/bin/bash
# Compile, run graft.Verify on sf0.01, compare against the DuckDB oracle.
set -e
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_verify}"
sbt -batch compile
rm -rf "$OUT"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" "${@:3}"
python3 dev/check.py "$SF" "$OUT"
# doc-drift gate: only meaningful on a FULL dump (subset runs dump a
# subset of query dirs, which would read as missing references)
if [ ! -f "$OUT/requested.json" ] || \
   grep -q '"full": true' "$OUT/requested.json"; then
  python3 dev/check_coverage.py "$OUT"
fi
