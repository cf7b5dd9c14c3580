#!/usr/bin/env python3
"""Build and run the dedup benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with scalac from the
Spark distribution into the build directory ($CARGO_TARGET_DIR, default
.bench_build); later runs reuse the classes while the sources are
unchanged. Each run is one JVM with its own scratch directory, deleted
afterwards. The last stdout line is the result object.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("company_reports", "stream_dedup")
RUN_LIMIT_S = 170  # the JVM's share of the 180 s a run may take
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark distribution's jars: $SPARK_HOME, else the installation
    that `spark-submit` on PATH belongs to, else build.sbt's unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.exists(os.path.join(c, "scala-compiler-2.13.17.jar")):
            return c
    fail("no Spark distribution found (set SPARK_HOME)")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile once per source state; returns the classes directory."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("library sources (src/main/scala) not found; run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    os.rename(tmp, classes)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars(root)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(root, build_dir, jars)

    run = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("work", "tmp"):
        os.makedirs(os.path.join(run, d))
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(logs, tag + ".log")
    spans = os.path.join(build_dir, "traces", tag + ".jsonl")

    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", *opens,
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--launched", repr(time.time()), "--work", os.path.join(run, "work"),
           "--spans", spans]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(run, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S} s; log: {log_path}", 3)
    shutil.rmtree(run, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {p.returncode} and no result; log: {log_path}", 1)
    with open(log_path) as f:
        for l in f:
            if l.startswith("check failed:"):
                sys.stderr.write(l)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
