#!/usr/bin/env bash
# Class-load audit: prints the graft.* classes that only the test suite loads.
#
# Runs the four ways the main code is reached, each with the JVM's
# class-load log on (-Xlog:class+load, one file per JVM):
#   verify  - graft.Verify at sf0.01 (every gate entry)
#   bench   - graft.Bench at sf0.001 (every gate entry, timed)
#   product - the product-path benchmark, both workloads, --trace 1
#   test    - sbt test
# and prints each main-tree class the test run loads that none of the other
# three does. Such a class is reached only by its own specs: delete it with
# them, or name the path that needs it.
#
# Usage, from the root of the checkout:  tools/class_audit.sh
# The scale-factor directories are read from $SPARK_GRAFT_DATA
# (default: $HOME/testdata). Logs go to $AUDIT_DIR (default: a new temp dir).
set -euo pipefail

cd "$(dirname "$0")/.."
DATA="${SPARK_GRAFT_DATA:-$HOME/testdata}"
AUDIT_DIR="${AUDIT_DIR:-$(mktemp -d -t class_audit.XXXXXX)}"
export COURSIER_MODE="${COURSIER_MODE:-offline}"
if [ -z "${SBT_OPTS:-}" ] && [ -f "$HOME/.sbt/repositories" ]; then
  export SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.repository.config=$HOME/.sbt/repositories -Xmx4g"
fi
echo "[audit] logs in $AUDIT_DIR" >&2

# Runs "$@" with every JVM it starts logging class loads under $AUDIT_DIR/$1.
logged() {
  local name=$1; shift
  mkdir -p "$AUDIT_DIR/$name"
  echo "[audit] $name: $*" >&2
  JAVA_TOOL_OPTIONS="-Xlog:class+load=info:file=$AUDIT_DIR/$name/jvm_%p.log" "$@" \
    >"$AUDIT_DIR/$name.out" 2>&1 || { echo "[audit] $name failed; see $AUDIT_DIR/$name.out" >&2; exit 1; }
}

logged verify sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.Verify $DATA/sf0.01 $AUDIT_DIR/verify_out"
# SPARK_GRAFT_BENCH_OUT keeps Bench's recording in the audit directory, out of the checkout
SPARK_GRAFT_SF_DIR="$DATA/sf0.001" SPARK_GRAFT_BENCH_OUT="$AUDIT_DIR/bench_full.json" \
  logged bench sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench"
logged product sh -c 'for w in hourly_jdbc column_fanout; do
  python3 etlbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 1 || exit 1; done'
logged test sbt --batch -Dsbt.log.noformat=true test

# The main-tree graft.* classes one run's JVMs loaded, from the classes
# directory or the packaged jar (test-tree classes load from test-classes).
# Lambdas, anonymous and synthetic classes and companion-module suffixes
# fold into the class they belong to.
classes() (
  set +o pipefail
  cat "$AUDIT_DIR/$1"/jvm_*.log | grep -E '\] graft\.[^ ]* source: (file|jar):' \
    | grep -v '/test-classes/' \
    | sed -E 's/^.*\] (graft\.[^ ]*) source:.*$/\1/; s/\$\$.*$//; s/\$anon.*$//' \
    | sed -E 's/(\$[0-9]+)+$//; s/\$+$//' | sort -u
)

classes verify >"$AUDIT_DIR/verify.classes"
classes bench >"$AUDIT_DIR/bench.classes"
classes product >"$AUDIT_DIR/product.classes"
classes test >"$AUDIT_DIR/test.classes"
sort -u "$AUDIT_DIR"/{verify,bench,product}.classes >"$AUDIT_DIR/reached.classes"
echo "[audit] classes loaded: verify $(wc -l <"$AUDIT_DIR/verify.classes")," \
  "bench $(wc -l <"$AUDIT_DIR/bench.classes"), product $(wc -l <"$AUDIT_DIR/product.classes")," \
  "test $(wc -l <"$AUDIT_DIR/test.classes")" >&2
echo "# graft.* classes loaded only under sbt test"
comm -23 "$AUDIT_DIR/test.classes" "$AUDIT_DIR/reached.classes"
