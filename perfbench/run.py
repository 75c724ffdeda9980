#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload route_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the program's sources
together with the harness (sbt, offline); later runs reuse the classes while
the sources are unchanged. The harness JVM prints a stamp line and then, as
the last line of stdout, the JSON result. Build output, logs, per-run result
files and the per-run work directory live under `.bench_build/`; the work
directory (EveStore tables, Spark scratch) is deleted after each run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("route_serve", "refresh_mix")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(top):
    for d, _, files in os.walk(top):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def source_digest():
    inputs = sorted(list(scala_files(PROGRAM_SRC)) + list(scala_files(os.path.join(HERE, "src", "main")))
                    + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def spark_jars():
    """$SPARK_HOME/jars, else the first jars directory next to a spark-submit
    on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((os.path.join(h, "jars") for h in homes if os.path.isdir(os.path.join(h, "jars"))), None)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and return (exit code, stdout); the
    whole group is killed on timeout (code None) or when this launcher is
    terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def build(digest):
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    print("[perfbench] compiling (sbt) ...", file=sys.stderr)
    with open(log_path, "w") as log:
        code, _ = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                            BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("build failed" if code is not None else "build timed out")
    with open(stamp, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")
    jars = spark_jars()
    if jars is None:
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")

    digest = source_digest()
    build(digest)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work}",
        "-Duser.timezone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.log={os.path.join(logs, tag + '.log')}",
        f"-Dperfbench.gitSha={git_sha()}",
        f"-Dperfbench.sourceDigest={digest}",
        "-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--results", os.path.join(BUILD, "results", tag + ".json"),
    ]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"harness exited with code {code}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("harness printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
