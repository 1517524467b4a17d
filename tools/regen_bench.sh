#!/bin/bash
# BENCH_FULL.json regeneration that REFUSES to run in a degraded host
# window — graft.Bench aborts rc=3 when the PRE ckpt canary exceeds
# SPARK_GRAFT_REQUIRE_CKPT_SEC, and demotes the artifact to
# BENCH_DEGRADED.json (gitignored) when the POST canary does. Retry in a
# later window until BENCH_FULL.json lands.
# Usage: tools/regen_bench.sh [sfdir] [require_ckpt_sec]
set -e
SF=${1:-/root/testdata/sf0.1}
REQ=${2:-0.65}
cd /root/repo
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_REQUIRE_CKPT_SEC="$REQ" \
  java $OPENS -Xmx16g -cp "$CP" graft.Bench
