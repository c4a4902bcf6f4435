#!/usr/bin/env python3
"""Extract-load benchmark: one command for every workload.

    python3 perfbench/run.py --workload osw_large|queue_small \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run compiles the service's
sources together with the harness in perfbench/src (sbt, offline) into
.bench_build/; later runs reuse the classes while no source changed. Each run
starts one JVM on local[nproc], works in a private directory under
.bench_build/work/ that is deleted afterwards, and prints one JSON result as
the last line of standard output. Host and input facts, every end-to-end
figure, and the spans of a traced run are kept in .bench_build/results/.
The command exits non-zero when any output differs from the expected one.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BUILD = ".bench_build"
# The JVM gets this long plus 3 s per measured second: set-up and probes
# take a fixed time, and a run may overshoot --seconds by one step.
JVM_TIMEOUT_BASE_S = 140
# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = ["src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old, cp = f.read().split("\n", 1)
        if old == digest:
            return cp.strip()
    log("perfbench: compiling (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["osw_large", "queue_small"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("perfbench/build.sbt")):
        raise SystemExit("perfbench: run from a checkout root holding src/main/scala and perfbench/")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    cp = build()

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(BUILD, "results", name)
    out, facts = results + ".result.json", results + ".facts.json"
    for p in (out, facts):
        if os.path.exists(p):
            os.remove(p)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # A fixed heap and young generation make the peak RSS repeatable:
    # with adaptive sizing it moved by a quarter between identical runs.
    # The parallel collector runs no concurrent GC threads beside the
    # executors; with G1 the first loads after warm-up took a third longer
    # and varied more. The JIT compiler threads stay alive, so the CPU time
    # they used can be taken out of the process's (see Main.cpuNs).
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out, "--facts", facts]
    with open(results + ".log", "w") as jvm_log:
        proc = subprocess.Popen(cmd, stdout=jvm_log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session; take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_BASE_S + 3 * a.seconds)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(results + ".log") as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: {a.workload} run failed (exit {code})")

    with open(facts) as f:
        log("perfbench facts: " + f.read().strip())
    with open(out) as f:
        result = json.loads(f.read())
    print(json.dumps(result), flush=True)
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
