#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload scd2_merge --seed 1 --seconds 20 --trace 0

Builds the benchmark and the graft library from the repository's sources
with sbt (once per source change; the classpath is cached under
perfbench/target/), then runs the workload in a fresh JVM. The last line of
standard output is the result object: the end-to-end metrics, or with
--trace 1 the per-layer metrics of a second, traced window and the tracing
overhead.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "classpath.json")
WORKLOADS = ("scd2_merge", "snapshot_reads", "corpus_ingest")
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, on_line=None):
    """Runs cmd in its own process group, streaming its stdout lines to
    on_line; kills the group on timeout or interrupt and always waits for
    it. Returns (exit code, stdout lines)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    lines = []

    def pump():
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            if on_line:
                on_line(lines[-1])

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        p.wait(timeout=timeout)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout:.0f} s", 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        reader.join(timeout=10)
    return p.returncode, lines


def classpath():
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    code, lines = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, on_line=lambda l: None if os.pathsep in l
        and not l.startswith("[") else print(l, file=sys.stderr))
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l]
    if code != 0 or not cp:
        fail(f"build failed (exit {code})", 4)
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def run_jvm(cp, args, work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    if args.trace:
        cmd += ["--spans", os.path.join(
            TARGET, "spans", f"{args.workload}-seed{args.seed}.json")]
    try:
        code, lines = run_group(cmd, ROOT, RUN_BUDGET_S, on_line=lambda l:
                                print(l, flush=True) if not l.startswith("{") else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    if result is None:
        fail(f"{args.workload} run exited {code} without a result", 1)
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources next to {os.path.basename(HERE)}/")

    cp = classpath()
    work = os.path.join(TARGET, "work", args.workload)
    code, result = run_jvm(cp, args, work)
    print(result)
    if code != 0:
        fail(f"{args.workload} run exited {code}: an operation or a check failed", 1)


if __name__ == "__main__":
    main()
