#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ticket_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
program and the benchmark from source with sbt (into the checkout) and later
runs reuse that build until a source file changes. Each run gets a fresh
work directory, used as the JVM's java.io.tmpdir, and deletes it at the end.

With --trace 0 the metrics are the end-to-end set of BENCHMARK.json, with
--trace 1 the per-layer set. A wrong answer prints "correct": false and
exits 1. --save FILE also appends the result, with the run's notes, to a
JSON-lines file that perfbench/compare.py reads.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# Runnable by hand, not in BENCHMARK.json; they print every metric they
# measure. See perfbench/README.md.
EXTRA_WORKLOADS = {"fs_selftest", "vector_search"}
# The per-layer metrics each workload must emit in a traced run. A listed
# metric that is missing is an error; the others do not apply to the
# workload and read 0.
EVERY_WORKLOAD = """spark.jobs spark.stages spark.tasks spark.cpu_s spark.run_s
    spark.driver_gap_s spark.planning_ms spark.input_bytes spark.shuffle_write_bytes
    spark.spill_bytes spark.session_start_s fs.ops_per_op trace.op_p50_ms trace.setup_s
    ops_failed_frac""".split()
LAYER_METRICS = {
    "ticket_sync": """ops.merge_s ops.merge_jobs ops.merge_tasks ops.merge_planning_ms
        ops.merge_driver_gap_s ops.merge_cpu_s ops.files_rewritten ops.rewrite_amp
        fs.commit_ops fs.commit_open fs.commit_create fs.commit_rename fs.commit_list
        fs.commit_status fs.commit_delete fs.commit_mkdirs fs.commit_write_bytes_per_row
        pipeline.transform_s ops.cas_retries sources.rows_fetched sources.fetch_failed
        streaming.refresh_s streaming.refresh_jobs streaming.refresh_fs_ops
        streaming.cdc_rows_per_changed_row e2e.sync_p50_s e2e.dash_lag_p50_s
        e2e.table_bytes_per_row""".split(),
    "ticket_queries": """sql.planning_ms sql.jobs_per_query sql.tasks_per_query
        sql.driver_gap_ms sql.fs_ops_per_query ops.resolve_head_ms ops.resolve_asof_ms
        ops.rows_read_per_row_returned ops.point_files_scanned ops.point_prune_frac
        e2e.query_p50_ms e2e.query_tail_ms e2e.point_p50_ms e2e.timetravel_p50_ms""".split(),
    "corpus_curation": """ext.gate_s ext.exact_dedup_s ext.near_dedup_s ext.curate_s
        ext.pack_s ext.survivor_frac e2e.curation_p50_s""".split(),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".xml", ".java")) or \
                    "META-INF" in p:
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env(build_dir):
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temporary files stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. The whole group is
    killed on timeout, or when this script is told to stop, so nothing it
    started outlives it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build(build_dir):
    """Build once per source state; returns (classpath, jvm options)."""
    os.makedirs(build_dir, exist_ok=True)
    launch = os.path.join(build_dir, "launch.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = os.path.exists(launch) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp
        if not fresh:
            if not shutil.which("sbt"):
                fail("sbt is not on PATH")
            log = os.path.join(build_dir, "build.log")
            with open(log, "w") as out:
                code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                 BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(build_dir), stdout=out,
                                 stderr=subprocess.STDOUT)
            if code != 0:
                fail(f"build {'timed out' if code is None else 'failed'}; see {log}")
            shutil.copy(os.path.join(HERE, "target", "bench-launch.txt"), launch)
            with open(stamp_file, "w") as f:
                f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def run_jvm(classpath, jvm_opts, args, work, cores):
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *jvm_opts, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", work, "--out", out]
    with open(log, "w") as lf:
        code = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
    if code is None:
        tail_log(log)
        fail("the workload did not finish in time")
    if code != 0 or not os.path.exists(out):
        tail_log(log)
        fail(f"the JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def tail_log(log, n=60):
    try:
        lines = open(log, errors="replace").read().splitlines()
        sys.stderr.write("\n".join(lines[-n:]) + "\n")
    except OSError:
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="append the result with its notes to this JSON-lines file")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark; run from a full checkout")
    bench = spec()
    listed = args.workload in {w["name"] for w in bench["workloads"]}
    if not listed and args.workload not in EXTRA_WORKLOADS:
        fail(f"unknown workload {args.workload}")

    t0 = time.time()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, jvm_opts = build(build_dir)
    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(build_dir, "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(classpath, jvm_opts, args, work, cores)
        errors = list(res["errors"])
        if args.workload == "corpus_curation":
            import oracle
            errors += oracle.check_curation(work, os.path.join(build_dir, "oracle-cache"))
        metrics = res["metrics"]
        if listed:
            wanted = bench["per_layer" if args.trace else "end_to_end"]
            required = {m["name"] for m in wanted} if not args.trace else \
                set(EVERY_WORKLOAD + LAYER_METRICS.get(args.workload, []))
            out = {}
            for m in wanted:
                v = metrics.get(m["name"])
                if v is None and m["name"] in required:
                    errors.append(f"metric {m['name']} was not measured")
                    continue
                out[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
            metrics = out
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: {args.workload} seed {args.seed}: {res['notes']}; "
          f"run wall {time.time() - t0:.1f} s", file=sys.stderr)
    for e in errors:
        print(f"perfbench: WRONG: {e}", file=sys.stderr)
    result = {"correct": not errors, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    if args.save:
        with open(args.save, "a") as f:
            f.write(json.dumps(dict(result, workload=args.workload, seed=args.seed,
                                    trace=args.trace, seconds=args.seconds,
                                    notes=res["notes"], errors=errors,
                                    time=time.time())) + "\n")
    print(json.dumps(result))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    main()
