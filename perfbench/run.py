#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload olap16 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source with
the repository's own sbt build (cached in perfbench/.build, keyed by a hash
of the sources), builds the harness in perfbench/harness against it,
generates the workload's inputs from --seed in a per-run scratch directory,
runs the harness JVM, checks every output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of a traced run. A line before it carries the run context (host,
seed, fixture fingerprint, load average, CPU canary). See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("olap16", "serve_dash", "ingest_fresh")
SF = 0.02  # fixture scale: lineitem 120k rows, orders 30k, documents 1000
# ingest_fresh: the cold pass is the first two cycles (the first creates the
# view table, the second is the first upsert into it), then this many warm
# cycles per second of --seconds, at least three. A traced run makes four
# warm cycles, untraced, traced, traced, untraced, as olap16's warm passes.
COLD_CYCLES = 2
WARM_CYCLES_PER_SECOND = 0.4
# a fixed, pre-touched heap keeps peak RSS from following GC timing; heap
# pressure shows as GC time instead
HEAP = "2g"
JVM_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")


class Failure(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run a child in its own process group; kill the group on timeout or
    interruption and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "harness")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the JVM classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise Failure(f"no program sources at {ROOT} (build.sbt, src/main)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_hash()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read()
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true"]
    log("building the program and the harness")
    out = os.path.join(BUILD_DIR, "program.log")
    with open(out, "w") as fh:
        rc = run_proc(sbt + ["export Runtime/fullClasspath"], ROOT, 1500,
                      stdout=fh, stderr=subprocess.STDOUT)
    lines = [ln.strip() for ln in open(out) if ln.strip()]
    if rc != 0 or not lines:
        raise Failure(f"program build failed, see {out}")
    program_cp = next((ln for ln in reversed(lines)
                       if not ln.startswith("[") and os.pathsep in ln), None)
    if program_cp is None:
        raise Failure(f"no classpath in {out}")
    env = dict(os.environ, GRAFT_PROGRAM_CP=program_cp)
    hlog = os.path.join(BUILD_DIR, "harness.log")
    with open(hlog, "w") as fh:
        rc = run_proc(sbt + ["compile"], os.path.join(HERE, "harness"), 900,
                      env=env, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        raise Failure(f"harness build failed, see {hlog}")
    classes = os.path.join(HERE, "harness", "target", "scala-2.13", "classes")
    cp = classes + os.pathsep + program_cp
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ------------------------------------------------------------------ run

def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def jvm(cp, run_dir, name, args):
    """Run the harness once; return its raw JSON result."""
    tmp = os.path.join(run_dir, f"{name}.tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, f"{name}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dderby.system.home={tmp}",
           "-cp", cp, "perfbench.Harness", "--out", out, *args]
    err = os.path.join(run_dir, f"{name}.log")
    with open(err, "w") as fh:
        rc = run_proc(cmd, tmp, JVM_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        tail = open(err).read()[-3000:]
        raise Failure(f"harness {name} exited {rc}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def run(args, cp, run_dir):
    w = args.workload
    ctx = {"workload": w, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": os.cpu_count(), "cores": cores(),
           "fixture_scale": SF, "git_commit": git_commit(),
           "loadavg_before": loadavg()}
    base = ["--workload", w, "--seed", str(args.seed), "--seconds",
            str(args.seconds), "--trace", str(args.trace), "--cores", str(cores())]
    data = os.path.join(run_dir, "data")
    fingerprint = None
    if w in ("olap16", "serve_dash"):
        fingerprint = gen.write(args.seed, SF, data)
        ctx["fixture_fingerprint"] = fingerprint
        base += ["--data", data]
    duck_sql = {}
    if w == "serve_dash":
        cold, scripts, duck_sql = gen.requests(args.seed, SF)
        req = os.path.join(run_dir, "requests.json")
        with open(req, "w") as fh:
            json.dump({"cold": cold, "clients": scripts}, fh)
        base += ["--requests", req]
    if w == "ingest_fresh":
        warm = 4 if args.trace else max(3, round(WARM_CYCLES_PER_SECOND * args.seconds))
        commits = COLD_CYCLES + warm
        ctx["commits"] = commits
        base += ["--commits", str(commits), "--cold-cycles", str(COLD_CYCLES)]

    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    t0 = time.monotonic()
    raw = jvm(cp, run_dir, "main", base + ["--work", work])
    t1 = time.monotonic()
    ctx.update(raw["context"])

    if w == "olap16":
        attempted, failed, detail = oracle.check_olap16(raw, data, fingerprint,
                                                        os.path.join(HERE, ".answers"))
    elif w == "serve_dash":
        attempted, failed, detail = oracle.check_serve(raw, data, duck_sql)
    else:
        attempted, failed, detail = oracle.check_ingest(raw)
    ctx["checks"] = detail
    # where the run's wall time went: the harness JVM and the output check
    ctx["jvm_s"], ctx["check_s"] = t1 - t0, time.monotonic() - t1
    ctx["loadavg_after"] = loadavg()
    try:
        metrics = layers.per_layer(w, raw) if args.trace else layers.end_to_end(w, raw, ctx)
    except ValueError:
        # nothing left to measure, e.g. every request failed; the failure
        # count already makes the result incorrect
        if failed == 0:
            raise
        metrics = {}
    return ctx, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                 "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def git_commit():
    try:
        # the ceiling keeps git from searching above the checkout
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        cp = build()
    except Failure as e:
        log(str(e))
        return 3
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUNS_DIR)
    try:
        ctx, result = run(args, cp, run_dir)
    except Failure as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
