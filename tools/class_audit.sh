#!/usr/bin/env bash
# Reach audit: prints the graft.* methods only the test suite runs, the ones
# nothing runs, and each gate entry's own footprint.
#
# Runs the four ways the main code is reached, each with the JVM's
# class-load log and touched-method list on (-Xlog:class+load and
# -XX:+LogTouchedMethods, one file of each per JVM):
#   verify  - graft.Verify at sf0.01 (every gate entry)
#   bench   - graft.Bench at sf0.001 (every gate entry, timed)
#   product - the product-path benchmark, both workloads, --trace 1
#   test    - sbt test
# then prints each leg's touched count, the main-tree methods only the test
# run touches and the ones no run touches (tools/touched_methods.py drops
# compiler-generated members). Such a method is reached only by its own
# specs or by nothing: delete it, or name the path that needs it.
#
# Then runs graft.Verify once per gate entry (SPARK_GRAFT_ONLY=<entry>), in
# its own JVM: the touched set only grows within a JVM, so one JVM per entry
# is the only way to get one entry's footprint. It prints how the union of
# the footprints differs from the verify leg's set, every pair (A, B) of
# entries whose footprint, less the methods every entry touches, has A's
# within B's, and the entries whose footprints outside graft/queries are
# equal.
#
# The JVM lists a method it resolved: a method never run by an interpreted
# caller stays off the list, but a JIT-compiled caller lists callees it
# never ran. So "nothing touches" means never ran; "touched" can over-report.
#
# Usage, from the root of the checkout:  tools/class_audit.sh
# The four legs take about 50 min on 4 vCPU. The per-entry runs (two JVMs
# at a time, 10-15 s each) add about 40 min more on an idle machine; they
# took 70 min with other jobs sharing the 4 vCPU. It drives sbt in the
# checkout, so run no other sbt there meanwhile. The scale-factor directories are read from
# $SPARK_GRAFT_DATA (default: $HOME/testdata). Logs go to $AUDIT_DIR
# (default: a new temp dir); <leg>.methods there lists what each leg touched.
set -euo pipefail

cd "$(dirname "$0")/.."
DATA="${SPARK_GRAFT_DATA:-$HOME/testdata}"
AUDIT_DIR="${AUDIT_DIR:-$(mktemp -d -t class_audit.XXXXXX)}"
export COURSIER_MODE="${COURSIER_MODE:-offline}"
if [ -z "${SBT_OPTS:-}" ] && [ -f "$HOME/.sbt/repositories" ]; then
  export SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.repository.config=$HOME/.sbt/repositories -Xmx4g"
fi
echo "[audit] logs in $AUDIT_DIR" >&2

# JVM flags that write the methods a JVM touched to $1/vm_pid<pid>.log at
# exit, instead of to its stdout.
touched_opts() {
  echo "-XX:+UnlockDiagnosticVMOptions -XX:+LogTouchedMethods -XX:+PrintTouchedMethodsAtExit" \
    "-XX:-DisplayVMOutput -XX:+LogVMOutput -XX:LogFile=$1/vm_%p.log"
}

# Runs "$@" with every JVM it starts logging class loads and touched methods
# under $AUDIT_DIR/$1.
logged() {
  local name=$1; shift
  mkdir -p "$AUDIT_DIR/$name"
  echo "[audit] $name: $*" >&2
  JAVA_TOOL_OPTIONS="-Xlog:class+load=info:file=$AUDIT_DIR/$name/jvm_%p.log $(touched_opts "$AUDIT_DIR/$name")" \
    "$@" >"$AUDIT_DIR/$name.out" 2>&1 || { echo "[audit] $name failed; see $AUDIT_DIR/$name.out" >&2; exit 1; }
}

logged verify sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.Verify $DATA/sf0.01 $AUDIT_DIR/verify_out"
# SPARK_GRAFT_BENCH_OUT keeps Bench's recording in the audit directory, out of the checkout
SPARK_GRAFT_SF_DIR="$DATA/sf0.001" SPARK_GRAFT_BENCH_OUT="$AUDIT_DIR/bench_full.json" \
  logged bench sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench"
logged product sh -c 'for w in hourly_jdbc column_fanout; do
  python3 etlbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 1 || exit 1; done'
logged test sbt --batch -Dsbt.log.noformat=true test

CLASSES=target/scala-2.13/classes
python3 tools/touched_methods.py legs "$CLASSES" "$AUDIT_DIR" verify bench product test

# One Verify JVM per entry, on the runtime classpath and JVM options sbt
# would fork with (sbt start-up is paid once, not once per entry).
sbt --batch -Dsbt.log.noformat=true 'export Runtime/fullClasspath' 'print javaOptions' \
  >"$AUDIT_DIR/runtime.out"
export AUDIT_DIR DATA
export AUDIT_CP="$(grep -E '^/.*\.jar' "$AUDIT_DIR/runtime.out" | tail -1)"
export AUDIT_JVM="$(sed -n 's/^\* //p' "$AUDIT_DIR/runtime.out" | tr '\n' ' ')"
entry() {
  local dir="$AUDIT_DIR/entries/$1"
  mkdir -p "$dir"
  # shellcheck disable=SC2086  # AUDIT_JVM is a list of flags
  SPARK_GRAFT_ONLY="$1" JAVA_TOOL_OPTIONS="$(touched_opts "$dir")" \
    java $AUDIT_JVM -cp "$AUDIT_CP" graft.Verify "$DATA/sf0.01" "$dir/out" >"$dir/out.log" 2>&1 \
    || { echo "[audit] entry $1 failed; see $dir/out.log" >&2; return 255; }
}
export -f entry touched_opts
find "$AUDIT_DIR/verify_out" -mindepth 1 -maxdepth 1 -type d -printf '%f\n' | sort \
  | xargs -P 2 -I{} bash -c 'entry "$1"' _ {}
python3 tools/touched_methods.py entries "$CLASSES" "$AUDIT_DIR" verify
