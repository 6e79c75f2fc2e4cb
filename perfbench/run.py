#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the repository root:

    python3 perfbench/run.py --workload build|query --seed N \
        --seconds S --trace 0|1

The first call builds the repository's sources and the benchmark
(perfbench/build.sh) into .bench_build/perfbench; later calls reuse the
classes while the sources are unchanged. Each run then starts one JVM with
one SparkSession at local[nproc], writes its record (machine state,
effective Spark conf, seed, corpus shapes, source digest, metrics) to
.bench_build/perfbench/runs/<run>/record.json and, traced, the spans to
spans.jsonl beside it. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 172
PROBE_MAX_AGE_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars directory at {jars}")
    return jars


def source_digest():
    """sha256 over every source file the build compiles."""
    h = hashlib.sha256()
    roots = ["src/main/scala", "src/main/resources", "perfbench/src", "perfbench/build.sh"]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in sorted(paths):
            h.update(p.encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(digest):
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join("perfbench", "build.sh"), classes],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def probe():
    """A tools/probe.sh reading (single-thread loop wall, steal %), taken
    before the JVM starts. One reading costs about 8 s, so a reading younger
    than PROBE_MAX_AGE_S is reused; the record carries its age."""
    cache = os.path.join(BUILD, "probe.json")
    if os.path.exists(cache) and time.time() - os.path.getmtime(cache) < PROBE_MAX_AGE_S:
        reading = json.load(open(cache))
        reading["age_s"] = round(time.time() - os.path.getmtime(cache), 1)
        return reading
    script = os.path.join("tools", "probe.sh")
    if not os.path.isfile(script):
        return {"error": "tools/probe.sh not found"}
    out = subprocess.run(["bash", script], capture_output=True, text=True).stdout
    reading = {}
    for tok in out.split():
        k, _, v = tok.partition("=")
        try:
            reading[k] = float(v)
        except ValueError:
            pass
    with open(cache, "w") as f:
        json.dump(reading, f)
    reading["age_s"] = 0.0
    return reading


def git_commit():
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    jars = spark_jars()
    digest = source_digest()
    classes = ensure_built(digest)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join("src", "main", "resources"),
                                    os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", run_dir])
    reading = probe()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    killed = threading.Event()

    def kill():
        killed.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(JVM_TIMEOUT_S, kill)
    timer.start()
    try:
        lines = [line.rstrip("\n") for line in proc.stdout]
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if killed.is_set():
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed")

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
            lines.pop()
        except ValueError:
            result = None
    for line in lines:
        print(line)
    if result is None:
        fail(f"benchmark JVM exited {proc.returncode} without a result")

    record_path = os.path.join(run_dir, "record.json")
    record = json.load(open(record_path)) if os.path.exists(record_path) else {}
    record.update({
        "nproc": os.cpu_count() if not hasattr(os, "sched_getaffinity") else len(os.sched_getaffinity(0)),
        "probe": reading,
        "source_sha256": digest,
        "git_commit": git_commit(),
        "command": sys.argv,
    })
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"perfbench: record {os.path.relpath(record_path, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
