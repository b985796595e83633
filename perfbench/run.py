#!/usr/bin/env python3
"""Build the engine and the benchmark, then run one workload once.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run compiles the engine and the
benchmark with sbt (the `perfbench` build one level down, which compiles
the engine from this checkout's sources) and caches the resulting class
path in `.bench_build/`; later runs reuse it until a source or build file
changes. Each run gets a fresh JVM, so no cached block can leak from one
workload into the next, and a fresh working directory under `.bench_run/`,
which is deleted when the run ends. A run refuses to start while an
earlier run's directory is still there, so nothing an earlier build wrote
can be read by this one.

The last line of standard output is the result JSON (see
`perfbench/src/main/scala/perfbench/Main.scala`). The exit code is 0 only
when every check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
RUN_DIR = ".bench_run"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
SOURCE_SUFFIXES = (".scala", ".java", ".sbt", ".properties")

# Spark on JDK 17 outside spark-submit needs these opened (the same list
# as org.apache.spark.launcher.JavaModuleOptions).
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


def source_digest(root):
    """SHA-256 over every main source and build file of the checkout."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x != "target"
                         and not (x == "project" and os.path.basename(d) == "project")
                         and not (x == "test" and os.path.basename(d) == "src"))
        for f in sorted(files):
            if f.endswith(SOURCE_SUFFIXES):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root):
    """The benchmark's runtime class path, building first when stale."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    digest_file = os.path.join(root, BUILD_DIR, "classpath.sha256")
    digest = source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(digest_file):
        with open(digest_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(digest_file, "w") as fh:
        fh.write(digest + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no engine sources here: run from the root of a repository checkout")
    runs = os.path.join(root, RUN_DIR)
    if os.path.isdir(runs) and os.listdir(runs):
        fail(f"leftovers of an earlier run in {runs}; delete them first")

    cp = classpath(root)
    run_dir = os.path.join(runs, uuid.uuid4().hex)
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--run-dir", work, "--out-dir", os.path.join(root, BUILD_DIR, "traces")]

    proc = None

    def stop(*_):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, stop)
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s", code=3)
        sys.exit(code)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(runs):
            os.rmdir(runs)


if __name__ == "__main__":
    main()
