#!/usr/bin/env bash
# Execute .github/workflows/ci.yml's run-steps verbatim in the local
# sandbox — the zero-egress substitute for an actual Actions run (the
# workflow itself has never executed; a YAML typo or a broken step
# would otherwise be invisible until it matters). Action-steps that
# only provision the environment are satisfied by the dev container
# and asserted instead of installed:
#
#   actions/checkout          -> run from the repo root
#   setup-spark-build         -> JDK 17 + sbt present; SPARK_JARS_DIR
#                                defaults to /opt/spark/jars (the same
#                                env contract the composite exports)
#   actions/setup-python      -> python3 present
#   pip install ...           -> numpy/pyarrow/duckdb/pandas preinstalled
#
# Every `run:` line below is copied from ci.yml. Exits non-zero on the
# first failing step, like the workflow would.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== env (setup-spark-build contract) =="
java -version 2>&1 | head -1
sbt --script-version 2>/dev/null || true
python3 --version
export SPARK_JARS_DIR="${SPARK_JARS_DIR:-/opt/spark/jars}"
test -d "$SPARK_JARS_DIR" || { echo "no Spark jars at $SPARK_JARS_DIR"; exit 1; }
python3 -c "import numpy, pyarrow, duckdb, pandas" \
  || { echo "oracle python deps missing"; exit 1; }

echo "== job scala-test: Generate test data =="
python3 tools/gen_testdata.py /tmp/testdata/sf0.001 0.001
python3 tools/gen_testdata.py /tmp/testdata/sf0.01 0.01
export GRAFT_TESTDATA_DIR=/tmp/testdata

echo "== job scala-test: Run tests =="
sbt -batch test

echo "== job localcheck-smoke: Generate sf0.001 test data =="
python3 tools/gen_testdata.py /tmp/sf0.001 0.001

echo "== job localcheck-smoke: Verify dump =="
rm -rf /tmp/verify_out
sbt -batch "runMain graft.Verify /tmp/sf0.001 /tmp/verify_out"

echo "== job localcheck-smoke: DuckDB oracle compare =="
python3 tools/localcheck.py /tmp/verify_out /tmp/sf0.001

echo "== job perfbench-selftest: Benchmark self-test =="
python3 perfbench/selftest.py

echo "== ci_localrun: ALL STEPS GREEN =="
