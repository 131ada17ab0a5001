#!/usr/bin/env python3
"""Run one graft load-benchmark workload and print its result line.

Usage, from the root of a checkout:

    python3 loadbench/run.py --workload usage_analytics --seed 1 --seconds 20 --trace 0

The first run builds the benchmark (the engine sources under src/main/scala
plus loadbench/src) with sbt into loadbench/target; later runs reuse the
build while no source or build file has changed. The JVM writes its data,
Spark scratch space and traces under .bench_build/. Every line the JVM
prints is forwarded; the last line of output is the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "loadbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("rag_serve", "usage_analytics", "vector_ingest")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark installation (its jars/ are the build classpath)")
    return home


def sbt_env():
    """Offline sbt whose lock and temp files stay in the checkout."""
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if any source changed since the last build; return the classpath."""
    files = sources()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = digest(files)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--workdir", work, "--trace-dir", os.path.join(BUILD, "traces")])
    result = None
    try:
        with open(os.path.join(BUILD, "last-jvm-stderr.log"), "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s")
        for line in out.splitlines():
            if line.startswith("RESULT "):
                result = line[len("RESULT "):]
            else:
                print(line)
        if proc.returncode != 0 or result is None:
            fail(f"JVM exited with {proc.returncode}; see .bench_build/last-jvm-stderr.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
