#!/usr/bin/env python3
"""Stream-to-standings benchmark: one command for every workload.

Run from the repository root:

    python3 perfbench/run.py --workload f1_stream --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with sbt (offline) into
perfbench/out; later runs reuse that build until a source changes. The
harness runs in one JVM at local[nproc] and prints a `detail` line, then
the result JSON as the last line of standard output. Spark's log goes to
perfbench/out/<workload>.log. The exit code is non-zero when the build
fails, an operation fails or an output check mismatches.

The sf0.1 fixture is read from $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1 (see TESTDATA.md).
"""
import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(OUT, "classpath.txt")
WORKLOADS = ("f1_stream", "sf01_corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# What spark-submit would add on JDK 17 (JavaModuleOptions), as build.sbt does.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            if os.sep + "target" in d:
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    sys.stderr.write(f"built in {time.time() - t0:.1f} s\n")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"no engine source next to {HERE}: run from a full checkout")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        sys.exit(f"sf0.1 fixture not found at {sf} (set SPARK_GRAFT_SF_DIR)")

    # a terminated run.py must not leave the build or the JVM behind: the
    # handler raises SystemExit, on which subprocess.run kills its child and
    # the run below kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(f"{a.workload} terminated"))
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = build()
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", OUT, "--sf", sf])
    log_path = os.path.join(OUT, a.workload + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s; see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    sys.stdout.write(out)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
