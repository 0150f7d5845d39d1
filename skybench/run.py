#!/usr/bin/env python3
"""Engine benchmark: one run of one workload.

    python3 skybench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with the repo's offline sbt setup (skybench/build.sbt
compiles ../src/main/scala together with skybench/src), then starts one JVM
(`local[nproc]` Spark) that sets the workload up from the seed, measures it
for --seconds, checks every answer and writes the complete run record to
skybench/out/records/. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Extra flags: --toy (tiny inputs, for the
self-test), --corrupt (drop one row from every answer before the check).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
RUN_LIMIT_S = 170  # a run (after the build) must end within 180 s
# Runnable by name but left out of BENCHMARK.json (see README.md).
EXTRA_WORKLOADS = ["sky_anti3d"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"skybench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    pats = [os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(HERE, "src", "**", "*")]
    files = [f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f)]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def built(digest):
    if not (os.path.exists(STAMP) and os.path.exists(CLASSPATH)):
        return False
    with open(STAMP) as fh:
        if fh.read().strip() != digest:
            return False
    with open(CLASSPATH) as fh:
        return all(os.path.exists(p) for p in fh.read().strip().split(os.pathsep))


def build(digest):
    """Compile engine + benchmark with sbt (offline), once per source digest."""
    os.makedirs(TARGET, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if built(digest):
            return
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(OUT, "build.log")
        t0 = time.time()
        with open(log, "w") as fh:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0 or not os.path.exists(CLASSPATH):
            fail(f"build failed (rc={rc}); see {log}", 1)
        with open(STAMP, "w") as fh:
            fh.write(digest)
        print(f"skybench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def git_revision():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) in this checkout")
    if not os.path.isfile(bench_file):
        fail("no BENCHMARK.json at the checkout root")
    with open(bench_file) as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS:
        fail(f"unknown workload {a.workload!r}")

    digest = source_digest()
    build(digest)
    t_start = time.time()

    stamp = time.strftime("%Y%m%dT%H%M%S")
    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-toy' if a.toy else ''}" \
          f"{'-corrupt' if a.corrupt else ''}-{stamp}-{os.getpid()}"
    record = os.path.join(rec_dir, tag + ".json")
    work = os.path.join(OUT, "work-" + str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    heap = "1g" if a.toy else "2g"  # fixed heap: RSS does not follow GC sizing
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "skybench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", record, "--work", work]
    if a.toy:
        cmd.append("--toy")
    if a.corrupt:
        cmd.append("--corrupt")
    env = dict(os.environ, SKYBENCH_REV=git_revision(), SKYBENCH_SRC_DIGEST=digest)
    log = os.path.join(rec_dir, tag + ".log")
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_LIMIT_S} s; see {log}", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(record):
        fail(f"run failed (rc={rc}); see {log}", 1)

    with open(record) as fh:
        rec = json.load(fh)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = rec["per_layer"] if a.trace else rec["end_to_end"]
    metrics, bypassed = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} missing from the record", 1)
            # a layer this workload does not exercise
            v = 0.0
            bypassed.append(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
              "failed": int(rec["failed"]), "metrics": metrics}
    rec["bypassed_per_layer"] = bypassed
    rec["result"] = result
    with open(record, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(f"skybench: record {os.path.relpath(record, ROOT)}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
