#!/bin/bash
# Dev loop: compile, run graft.Verify on a scale factor, compare every query
# against its DuckDB oracle (mirrors the driver's t2 correctness gate).
# Usage: scripts/dev_verify.sh [sfdir] [outdir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
# run from this checkout, wherever it lives
cd "$(dirname "$0")/.."
# Abort on compile failure (a grep-decided exit status previously let stale
# classes masquerade as PASS — ADVICE r1).
sbt -batch compile > /tmp/sbt_compile.log 2>&1 || { cat /tmp/sbt_compile.log; exit 1; }
grep -E '\[(error|warn)\]' /tmp/sbt_compile.log || true
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
CP="target/scala-2.13/classes:/opt/spark/jars/*"
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" \
  graft.Verify "$SF" "$OUT" 2>&1 | grep -vE '^(2[0-9]|WARN|INFO)' || true
python3 scripts/check_oracle.py "$SF" "$OUT"
# Scale regression gate (VERDICT r7 #7): always-on in the dev loop, at
# sf0.001 so it costs seconds — a removed hot-bucket cap shows up as
# super-linear 1x->4x growth here long before the sf0.1 smoke would run.
# GRAFT_SCALE_SMOKE_SKIP=1 opts out (e.g. when iterating on one query).
if [ -z "$GRAFT_SCALE_SMOKE_SKIP" ]; then
  set +e
  GRAFT_SCALE_GATE=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  java $ADD_OPENS -Xmx8g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" \
    graft.tools.ScaleSmoke 1 4 > /tmp/scale_gate.log 2>&1
  rc=$?
  set -e
  grep -vE '^(2[0-9]|WARN|INFO)' /tmp/scale_gate.log || true
  [ $rc -eq 0 ] || { echo "SCALE GATE FAILED"; exit 1; }
  echo "scale gate OK (sf0.001, 1x->4x)"
fi
# Bench e2e: the suspect->retime->closing-line path feeds the record a
# tail parser reads; exercise it against a synthetic tiny-median history on a
# 4-query subset. The Spark-free bench specs (record format, wire, history
# readers, replay) run first in the same sbt call, so a record-format break
# fails in seconds instead of after the e2e. GRAFT_BENCH_E2E_SKIP=1 opts
# out (e.g. when iterating on one query).
if [ -z "$GRAFT_BENCH_E2E_SKIP" ]; then
  set +e
  GRAFT_BENCH_E2E=1 sbt -batch \
    'testOnly graft.BenchReplaySpec graft.BenchLoadSpec graft.BenchWireProperties graft.BenchHistoryProperties graft.JstrSpec graft.BenchRecordSpec' \
    'testOnly graft.BenchE2eSpec' > /tmp/bench_e2e.log 2>&1
  rc=$?
  set -e
  grep -E '^\[info\] (- |\+ |Tests:)' /tmp/bench_e2e.log || true
  [ $rc -eq 0 ] || { echo "BENCH E2E FAILED (see /tmp/bench_e2e.log)"; exit 1; }
  echo "bench retime e2e OK"
fi
