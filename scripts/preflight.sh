#!/usr/bin/env bash
# Pre-snapshot gate: run before ending a round so the round's artifacts
# (BENCH_r{N}.json, CORRECTNESS_r{N}.json) can't be produced from a
# tree that doesn't compile or whose entrypoint is broken. Round 5
# shipped a bench with rc=1 from a one-line compile break — this is
# the guard against repeating that.
#
#   ./scripts/preflight.sh            # compile (main+test) + smoke query
#   ./scripts/preflight.sh --full     # also: full test suite (failing if it
#                                     # leaks /tmp store roots) + sf0.01 oracle
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[preflight] sbt Test/compile"
sbt -batch "Test/compile" >/tmp/preflight_compile.log 2>&1 || {
  echo "[preflight] COMPILE FAILED — tail of log:"; tail -30 /tmp/preflight_compile.log; exit 1; }

echo "[preflight] one session factory: SparkSession.builder only in GraftSession.scala"
if grep -rn "SparkSession.builder" src | grep -v "^src/main/scala/graft/GraftSession.scala:"; then
  echo "[preflight] build sessions with graft.GraftSession.local, not SparkSession.builder"; exit 1
fi

echo "[preflight] one timing primitive: no count() on a query DataFrame in Bench.scala or tools/"
if grep -rnE '(SparkEntry\.queries\([^)]*\)\([^)]*\)|fn\(spark, [^)]*\))\.count\(\)' \
    src/main/scala/graft/Bench.scala src/main/scala/graft/tools/; then
  echo "[preflight] time queries with graft.Measure.run (noop sink), not count()"; exit 1
fi

echo "[preflight] no host-calibrated wall gate: no calib probe, norm factor or live re-measure under src/"
if grep -rnE 'cpuCalibSec|parCalibSec|minOf3Norm|queries_norm' src; then
  echo "[preflight] gate plan regressions on Spark counters (CounterGateSpec), walls raw (BenchRegressionSpec)"; exit 1
fi

echo "[preflight] one control-plane document path: no POSIX-only catalog IO under src/"
if grep -rnE 'objectMode|objectParseCache|saveFile|writeJson' src; then
  echo "[preflight] catalog documents go through StorageBackend getMeta/casMeta and ManifestCache"; exit 1
fi

echo "[preflight] footer opens on the shared conf: no one-argument ParquetFileReader.open or bare ParquetReadOptions.builder() in src/main"
if grep -rn 'ParquetFileReader\.open(' src/main | grep -v 'ReadOptions' ||
   grep -rnE 'ParquetReadOptions\.builder\(\s*\)' src/main; then
  echo "[preflight] open footers with HadoopReadOptions.builder(conf) (FileIndex.openFooter): the no-conf forms parse a new Configuration per file"; exit 1
fi

echo "[preflight] smoke: Verify on sf0.001 (entry + every query end-to-end)"
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/preflight_out" \
  >/tmp/preflight_verify.log 2>&1 || {
  echo "[preflight] VERIFY FAILED — tail of log:"; tail -30 /tmp/preflight_verify.log; exit 1; }
if grep -q "\[verify\].*failed" /tmp/preflight_verify.log; then
  echo "[preflight] QUERY FAILURES:"; grep "\[verify\].*failed" /tmp/preflight_verify.log; exit 1
fi

# temp roots of the suites on BackendHarness.tempDir (its cleanup()
# deletes them from each suite's afterAll), of the queries (graft.TempDir)
# and of the query specs
leaked_roots() {
  shopt -s nullglob
  local dirs=(/tmp/graft-{gen,rec,lin,store,http-records,session,prod,src,rafault,http-auth,catshard,clispec}*
              /tmp/graft-{netfault,nf,http-catalog,group,det,http-account,maint,gauge,tls,pem,staged,follow,singest,ord}*
              /tmp/graft-{decplan,decbasin,sqlcat,wmdedup,xproot,xpcrash,verify,layout}*
              /tmp/graft-{demo,objdur,objcat,httpobj,annidx,bm25idx,bucketed,cli,e2e,bench-root}*
              /tmp/graft-{czr,drift,gopherspec,novspec,contamspec,heapstiny,boiler}*)
  shopt -u nullglob
  echo "${#dirs[@]}"
}

if [[ "${1:-}" == "--full" ]]; then
  echo "[preflight] full: sbt test"
  roots_before=$(leaked_roots)
  sbt -batch test >/tmp/preflight_test.log 2>&1 || {
    echo "[preflight] TESTS FAILED — tail of log:"; tail -40 /tmp/preflight_test.log; exit 1; }
  roots_after=$(leaked_roots)
  echo "[preflight] full: harness temp roots in /tmp before $roots_before, after $roots_after"
  if (( roots_after > roots_before )); then
    echo "[preflight] the suite leaked $((roots_after - roots_before)) temp roots"; exit 1
  fi
  echo "[preflight] full: sf0.01 oracle compare"
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/preflight_out01" \
    >/tmp/preflight_verify01.log 2>&1
  python3 scripts/check.py /root/testdata/sf0.01 /tmp/preflight_out01
fi

echo "[preflight] OK"
