#!/usr/bin/env python3
"""Build (when the sources changed) and run one benchmark workload.

Usage, from the repository root:
    python3 perfbench/run.py --workload <ingest|ask|suite> --seed <n> \
        --seconds <s> --trace <0|1>

The last stdout line is the result object. Everything the run writes stays
inside the checkout: the build under perfbench/target (compiled with the
Scala compiler among Spark's jars, no build tool), a scratch root under
perfbench/.scratch (deleted when the run ends, also serving as the JVM's
java.io.tmpdir) and the full record under perfbench/out.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit (the list the root build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the Spark install of a spark-submit on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    sys.exit("perfbench: set SPARK_HOME to a Spark 4 install")


def java():
    """$JAVA_HOME/bin/java, else the java on the PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def source_files():
    files = []
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files() + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (exit code or None on timeout, stdout or None)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build():
    """Compile the engine's sources and the harness together with the Scala
    compiler that Spark ships in its jars directory. No build tool runs, so
    nothing is resolved or cached outside the checkout."""
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    shutil.rmtree(TARGET, ignore_errors=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("".join(f'"{f}"\n' for f in source_files()))
    jars = os.path.join(spark_home(), "jars", "*")
    rc, _ = run_group([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                       f"-Djava.io.tmpdir={tmp}", "-cp", jars, "scala.tools.nsc.Main",
                       "-usejavacp", "-d", CLASSES, "@" + argfile],
                      BUILD_TIMEOUT_S, cwd=BENCH, stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"perfbench: build failed (scalac exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "ask", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    build()

    scratch = os.path.join(BENCH, ".scratch", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={scratch}",
            "-cp", os.pathsep.join([CLASSES, ENGINE_RESOURCES,
                                    os.path.join(spark_home(), "jars", "*")]),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scratch", scratch,
            "--data", os.path.join(BENCH, "data", "sf0.1"),
            "--bench", BENCH]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=scratch, env=env,
                        stdout=subprocess.PIPE, text=True)
    shutil.rmtree(scratch, ignore_errors=True)
    if rc is None:
        sys.exit(f"perfbench: {a.workload} run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.exit(f"perfbench: no result (JVM exit {rc})")
    print("\n".join(lines), flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
