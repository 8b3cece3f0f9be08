#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload per run, outputs checked.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: extract_plain and curation_queries (see
perfbench/plan.json for why each exists and what each metric should move).

The first run in a checkout builds the repo and the benchmark with sbt
(offline) and caches the launch classpath under perfbench/target/launch;
later runs rebuild only when a source file changes. Each run then starts
one JVM with the repo's forked-run javaOptions from build.sbt, runs the
workload's set-up, measures and checks every output. extract_plain
measures for --seconds; curation_queries times exactly one sweep over its
queries (perfbench/tables/sf0.01, in an order the seed permutes).

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The line before it holds the run's provenance and the same
numbers under their report names. Traced runs also write their spans and
per-layer metrics to .bench_out/<workload>-seed<n>/. All scratch data lives
in a run-scoped directory under .bench_build/runs/ and is removed at exit.
Exits non-zero when an output check fails or the run cannot be made.
"""
import argparse
import atexit
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BENCH, "target", "launch")
# graft's sf0.01 query tables, read-only; the curation seed orders queries
TABLES = os.path.join(BENCH, "tables", "sf0.01")
WORKLOADS = ("extract_plain", "curation_queries")
RUN_LIMIT_S = 170
REQUIRED = ("build.sbt", "project/build.properties", "src/main/scala",
            "fixtures/golden_extract_2000.parquet",
            "fixtures/golden_extract_donut_2000.parquet",
            "tools/check_oracles.py", "perfbench/build.sbt")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def driver_mem():
    """SPARK_DRIVER_MEM the way the tier-1 test command derives it:
    half of MemTotal in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
        return f"{min(max(g, 2), 8)}g", kb
    except (OSError, StopIteration):
        return "2g", None


def source_stamp(mem):
    """Hash of every build input, so a checkout rebuilds only on change."""
    h = hashlib.sha256(mem.encode())
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else []
        for d, dirs, fs in os.walk(path):
            # skip build output and sbt's generated meta-build
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(mem, stamp):
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=mem,
               SBT_OPTS=" ".join(opts))
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "writeLaunch"], cwd=BENCH, env=env, stdout=out,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 4)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def check_oracles(oracle_dir, tables):
    """tools/check_oracles.py over the queries' cold-pass outputs; returns
    the set of queries that failed and the tool's output."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                        "check_oracles.py"), oracle_dir, tables],
                       capture_output=True, text=True, timeout=120)
    failed = {l.split()[1].rstrip(":") for l in p.stdout.splitlines()
              if l.startswith("FAIL")}
    if p.returncode != 0 and not failed:
        failed = {"<check_oracles>"}
    return failed, p.stdout + p.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a graft checkout (missing {', '.join(missing)})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    os.makedirs(STATE, exist_ok=True)
    lock = open(os.path.join(STATE, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another benchmark run is active in this checkout", 3)
    runs = os.path.join(STATE, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # left by a killed run
    run_dir = os.path.join(runs, str(os.getpid()))
    os.makedirs(run_dir)

    child = []

    def cleanup():
        for p in child:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    atexit.register(cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    mem, mem_kb = driver_mem()
    stamp = source_stamp(mem)
    build(mem, stamp)
    cores = len(os.sched_getaffinity(0))

    t_start = time.time()
    tables = TABLES if args.workload == "curation_queries" else ""

    classpath = open(os.path.join(LAUNCH, "classpath")).read().strip()
    javaopts = open(os.path.join(LAUNCH, "javaopts")).read().split("\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out = os.path.join(run_dir, "result.json")
    cmd = [java, *[o for o in javaopts if o],
           f"-Djava.io.tmpdir={run_dir}", "-cp", classpath,
           "graft.perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores),
           "--scratch", run_dir, "--fixtures", os.path.join(ROOT, "fixtures"),
           "--out", out, "--tables", tables]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        child.append(p)
        try:
            rc = p.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_start), 10))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"measured JVM failed ({rc})", 5)
    res = json.load(open(out))

    attempted, failed = res["attempted"], res["failed"]
    correct = bool(res["setup_ok"]) and res.get("golden_mismatches", 0) == 0
    oracle_failed = set()
    if args.workload == "curation_queries":
        oracle_failed, oracle_out = check_oracles(res["oracle_dir"], tables)
        if oracle_failed:
            sys.stderr.write(oracle_out)
        # every timed execution of a query that fails its oracle is a failure
        failed += sum(n for q, n in res["executions"].items() if q in oracle_failed)
        failed = min(failed, attempted)
    if args.trace and args.workload != "curation_queries" and not res["zero_shuffle"]:
        correct = False
        print("perfbench: extraction batches shuffled", file=sys.stderr)
    correct = correct and failed == 0 and not oracle_failed

    jvm = res["jvm"]
    setup_s = res["first_op_ms"] / 1000.0 - t_start
    if args.trace:
        per_layer = res["per_layer"]
        metrics = {m["name"]: {"value": float(per_layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        dest = os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}")
        os.makedirs(dest, exist_ok=True)
        shutil.copy(res["span_file"], os.path.join(dest, "spans.jsonl"))
        with open(os.path.join(dest, "per_layer.json"), "w") as f:
            json.dump(metrics, f, indent=1, sort_keys=True)
        report = {}
    else:
        e2e = dict(res["e2e"], setup_s=setup_s)
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        report = {"setup_s": [setup_s, "s"],
                  "peak_rss_mb": [e2e["peak_rss_mb"], "MB"],
                  "failed_ops_frac": [failed / attempted, "frac"]}
        if args.workload == "curation_queries":
            report.update(sweep_s=[e2e["sweep_s"], "s"],
                          query_s_p50=[e2e["op_s_p50"], "s"],
                          query_s_p90=[e2e["op_s_p90"], "s"])
        else:
            report.update(docs_per_s=[e2e["docs_per_s"], "docs/s"],
                          batch_s_p50=[e2e["op_s_p50"], "s"],
                          batch_s_p90=[e2e["op_s_p90"], "s"])

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": git_commit(), "source_sha256": stamp,
        "box": {"nproc": cores, "mem_total_kb": mem_kb,
                "spark_driver_mem": mem},
        "jvm": jvm, "setup_start_ms": int(t_start * 1000),
        "setup_phases_ms": res.get("setup_phases_ms"),
        "warm_latencies_s": res.get("warm_latencies_s"),
        "cold_s": res.get("cold_s"), "order": res.get("order"),
        "latencies_s": res.get("latencies_s"),
        "paired_s": res.get("paired_s"),
        "oracle_failed": sorted(oracle_failed)}
    print(json.dumps({"provenance": provenance, "report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
