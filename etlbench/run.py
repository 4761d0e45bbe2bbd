#!/usr/bin/env python3
"""Product-path benchmark of the YouGile -> cdm_tasks pipeline.

Builds the pipeline and the benchmark from the checkout's sources (once;
cached in .bench_build/), then runs one workload in a fresh JVM and prints
every metric by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

Usage, from the root of the checkout:
    python3 etlbench/run.py --workload hourly_jdbc --seed 1 --seconds 20 --trace 0

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones, from
a separate traced run. See etlbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("hourly_jdbc", "backfill_parquet", "column_fanout")
DEADLINE_S = 175.0

END_TO_END = [
    ("setup_s", "s"),
    ("cold_run_s", "s"),
    ("warm_run_s.p50", "s"),
    ("warm_run_s.tail", "s"),
    ("mart_rows_per_s", "rows/s"),
    ("api_requests", "count"),
    ("run_ok_ratio", "ratio"),
]

PER_LAYER = [
    ("client.requests", "count"),
    ("client.bytes", "bytes"),
    ("client.busy_s", "s"),
    ("client.req_ms.p50", "ms"),
    ("client.failed", "count"),
    ("limiter.wait_s", "s"),
    ("paginator.self_s", "s"),
    ("paginator.pages_empty", "count"),
    ("source.self_s", "s"),
    ("source.staged_rows", "count"),
    ("source.staged_bytes", "bytes"),
    ("extract.task_objects_fetched", "count"),
    ("extract.useful_ratio", "ratio"),
    ("transform.brd_clmn_s", "s"),
    ("transform.contracts_prepared_s", "s"),
    ("transform.subtasks_prepared_s", "s"),
    ("transform.assembly_s", "s"),
    ("transform.lost_subtasks_s", "s"),
    ("transform.mart_s", "s"),
    ("transform.assembly_shuffle_bytes", "bytes"),
    ("transform.mart_shuffle_bytes", "bytes"),
    ("transform.dedup_ratio", "ratio"),
    ("pipeline.spark_jobs", "count"),
    ("pipeline.spark_stages", "count"),
    ("pipeline.spark_tasks", "count"),
    ("pipeline.jobs_before_write", "count"),
    ("pipeline.jobs_after_write", "count"),
    ("pipeline.persisted_bytes", "bytes"),
    ("sink.write_s", "s"),
    ("sink.rows", "count"),
    ("sink.tasks", "count"),
    ("sink.bytes", "bytes"),
    ("sink.rows_per_s", "rows/s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.peak_exec_mem_bytes", "bytes"),
    ("spark.cpu_utilization", "ratio"),
    ("self_s.pipeline", "s"),
    ("self_s.client", "s"),
    ("self_s.spark", "s"),
    ("self_s.sink", "s"),
    ("self_s.alert", "s"),
    ("driver_heap_peak_mb", "MB"),
    ("trace.warm_run_s.p50", "s"),
    ("trace.overhead_s", "s"),
]

def log(msg):
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compiles the repository and the benchmark with sbt and returns the
    benchmark JVM's classpath and options; skipped when no source changed
    since the last build."""
    launch_file = os.path.join(BUILD, "launch.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    fp = fingerprint()
    if not (os.path.exists(launch_file) and os.path.exists(fp_file) and open(fp_file).read() == fp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx3g")
        log("building the pipeline and the benchmark (sbt) ...")
        t0 = time.time()
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                               cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=max(60.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out", 1)
        built = os.path.join(BENCH, "target", "launch.txt")
        if p.returncode != 0 or not os.path.exists(built):
            fail(f"build failed (sbt exit {p.returncode})", 1)
        log(f"built in {time.time() - t0:.1f} s")
        shutil.copyfile(built, launch_file)
        with open(fp_file, "w") as f:
            f.write(fp)
    lines = [ln for ln in open(launch_file).read().splitlines() if ln]
    return lines[0], lines[1:]


def jvm(launch, args, work):
    cp, repo_opts = launch
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation makes collections come at steady allocation
    # intervals, so the post-GC heap peak does not hinge on when G1's
    # adaptive sizing happens to collect.
    opts = repo_opts + ["-Xmx3g", "-Xmn256m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
                        f"-Dderby.system.home={os.path.join(BUILD, 'derby')}",
                        f"-Dderby.stream.error.file={os.path.join(BUILD, 'derby.log')}"]
    return [java] + opts + ["-cp", cp, "etlbench.Main", "--work", work] + args


def launch(cmd, deadline):
    """Runs the benchmark JVM and times its set-up: launch to the READY line."""
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=ROOT)
    setup, result = None, None
    try:
        for line in proc.stdout:
            if line.startswith("READY "):
                setup = int(line.split()[1]) / 1e6 - t0
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            if time.time() > deadline:
                break
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
            fail("run exceeded its time budget", 1)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    return setup, result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "yougile", "Pipeline.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the benchmark builds the pipeline from this checkout's sources")
    launch_cmd = build(start + 880.0)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cores = str(min(4, os.cpu_count() or 1))
    common = ["--workload", a.workload, "--seed", str(a.seed), "--cores", cores]
    try:
        setup, res = launch(jvm(launch_cmd, ["--seconds", str(a.seconds), "--trace", str(a.trace)]
                                + common, work), deadline)
        if res is None or setup is None:
            fail("benchmark JVM printed no result", 1)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-") and f.endswith(".json"):
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["setup_s"] = setup
    specs = PER_LAYER if a.trace else END_TO_END
    metrics = {}
    for name, unit in specs:
        v = res.get(name)
        if not isinstance(v, (int, float)):
            fail(f"metric {name} missing from the run", 1)
        metrics[name] = {"value": v, "unit": unit}
        print(f"{name} = {v:.6g} {unit}")
    if a.trace:
        print(f"dominant layer (self time): {res['dominant_layer']}")
        print(f"dominant transform stage: {res['dominant_transform_stage']}")
        print(f"tracing overhead: {res['trace.overhead_s']:.4f} s "
              f"(traced p50 {res['trace.warm_run_s.p50']:.4f} s - untraced p50 "
              f"{res['trace.untraced_warm_run_s.p50']:.4f} s)")
    else:
        print(f"warm_run_s.tail is p{res['warm_run_s.tail_percentile']:.4g} of n={res['warm_runs']} warm runs"
              f"; mart rows {res['mart_rows']:.0f}")
        print(f"run_fail_ratio = {res['run_fail_ratio']:.6g} ratio ({res['failed']} of {res['attempted']} runs)")
        print(f"driver_heap_peak_mb = {res['driver_heap_peak_mb']:.6g} MB (median over the runs of each "
              "run's post-GC peak; a per-layer metric, see etlbench/README.md)")
        print("api_requests repeated exactly in every run: "
              f"{'yes' if res['api_requests_distinct'] == 1 else 'NO'}")
    correct = res["failed"] == 0
    print(f"output check: {'PASS' if correct else 'FAIL'} ({res['attempted'] - res['failed']} of "
          f"{res['attempted']} runs correct)")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
