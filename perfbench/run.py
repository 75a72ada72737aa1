#!/usr/bin/env python3
"""The repository benchmark: one MLSQL workload, measured end to end.

    python3 perfbench/run.py --workload <interactive|stream_ingest>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark's JVM side from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from --seed, runs the workload in a fresh JVM on Spark local[4],
checks every result against a DuckDB replay over the same inputs, and prints
a full record line and then, as the last line, the summary
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics of a traced run.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402
from metrics import HEADLINE, end_to_end, per_layer  # noqa: E402

WORKLOADS = ["interactive", "stream_ingest"]
CORES = 4
# The serial collector sizes the heap by how much is live after each
# collection, so the peak RSS follows the program's memory. G1 sizes it by
# pause and GC-time goals: with it, stream_ingest's peak RSS ranged from
# 955 to 1300 MB over five seeds on a 4-vCPU machine. The heap starts at
# HEAP_MIN whatever the machine's memory.
HEAP_MIN, HEAP = "256m", "1536m"
RUN_LIMIT_S = 170  # a run must end within 180 s; the JVM gets what is left
STREAM_INTERVAL_MS = 1800

JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the engine and the JVM side with sbt (offline) and cache the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"], 0.0
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *opts,
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.call(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                             stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1], time.time() - t0


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def stream_sizes(seconds):
    """Backlog to drain and files to pace, sized to the run length: the
    paced phase lasts about one run length, the drain about half of one."""
    backlog = max(4, round(seconds * 0.5))
    paced = max(5, round(seconds * 1000 / STREAM_INTERVAL_MS))
    return backlog, paced


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat; None where it is missing.
    Steal is time the hypervisor gave the machine's CPUs to others — the
    main source of run-to-run noise on a shared virtual machine."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classpath, plan_path, record_path, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-XX:+UseSerialGC", f"-Xms{HEAP_MIN}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-cp", classpath, "perfbench.Main", plan_path, record_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(record_path):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("the workload JVM timed out" if rc is None else f"the workload JVM exited with {rc}")
    with open(record_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, src/main/scala/graft) "
             "are not here")
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classpath, build_s = build(root, out)
    # the first run of a checkout may spend most of its time building
    deadline = time.time() + RUN_LIMIT_S - (time.time() - t_start - build_s)

    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)
    inputs, home = os.path.join(work, "inputs"), os.path.join(work, "home")
    os.makedirs(home)
    t0 = time.time()
    backlog, paced = stream_sizes(a.seconds)
    sizes = gen.generate(a.workload, a.seed, inputs, n_stream_files=backlog + paced)
    gen_s = time.time() - t0

    if a.workload == "stream_ingest":
        plan = workloads.stream_ingest(inputs, home, backlog, paced, STREAM_INTERVAL_MS)
        oracles = {}
    else:
        plan, oracles = workloads.interactive(inputs)
    plan.update(workload=a.workload, cores=str(CORES), seconds=a.seconds,
                trace=bool(a.trace), home=home)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    raw = os.path.join(out, "last-raw-record.json")
    ticks0 = cpu_ticks()
    rec = run_jvm(classpath, plan_path, raw, work, deadline)
    ticks1 = cpu_ticks()
    checks = verify.check(a.workload, rec, oracles, inputs, plan)
    e2e = end_to_end(a.workload, rec, checks)
    layers = per_layer(a.workload, rec, checks, CORES) if a.trace else {}

    metrics = layers["metrics"] if a.trace else e2e["metrics"]
    missing = (layers if a.trace else e2e)["missing"]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(root), "nproc": os.cpu_count(), "cores": CORES,
        "tenants": len(plan["tenants"]), "heap": f"{HEAP_MIN}-{HEAP} serial",
        "versions": dict(rec["versions"], python=platform.python_version()),
        "inputs": sizes, "gen_s": gen_s, "build_s": build_s,
        "setup_s": rec["setup_s"], "session_s": rec["session_s"],
        "cpu_steal_pct": (100.0 * (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
                          if ticks0 and ticks1 else None),
        "correct": checks["correct"], "attempted": checks["attempted"], "failed": checks["failed"],
        "failures": checks["failures"][:20],
        "headline": HEADLINE[a.workload], "detail": e2e["detail"], "metrics": metrics, "missing": missing,
    }
    if a.trace:
        spans_path = os.path.join(out, f"spans-{a.workload}-{a.seed}.jsonl")
        with open(spans_path, "w") as f:
            for s in layers["spans"]:
                f.write(json.dumps(s) + "\n")
        record["spans_file"] = os.path.relpath(spans_path, root)
        record["self_ms"] = layers["self_ms"]
    with open(os.path.join(out, f"record-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": checks["correct"], "attempted": checks["attempted"],
                      "failed": checks["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
