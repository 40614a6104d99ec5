#!/usr/bin/env python3
"""Runs one benchmark workload of the graft ETL engine.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Builds the program (src/main/scala) and the benchmark runner
(perfbench/src) with sbt when their sources changed, then starts one
JVM. The last line of standard output is the result JSON.
The inputs are read from the star-schema test data directory
($PERFBENCH_DATA, default ~/testdata); everything the run writes
stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CP_FILE = os.path.join(BUILD, "classpath.txt")
STAMP_FILE = os.path.join(BUILD, "build.stamp")
DATA = os.environ.get("PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
WORKLOADS = ("etl_daily", "sql_interactive")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha1()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt when sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    want = stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == want:
                with open(CP_FILE) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    home = os.path.expanduser("~")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={home}/.sbt/repositories", "-J-Xmx2g",
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                 stderr=log, text=True, timeout=BUILD_TIMEOUT_S,
                                 stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (rc {out.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(want)
    return cp


def java_cmd(cp, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx4g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
             "--root", ROOT, "--data", DATA] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(DATA):
        fail(f"test data directory {DATA} not found")
    cp = build()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(java_cmd(cp, args), cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 3)
    sys.exit(rc)


if __name__ == "__main__":
    main()
