#!/usr/bin/env python3
"""Crawl benchmark: builds the engine from this checkout and runs one workload.

    python3 perfbench/run.py --workload drain-saturated --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository. The first run builds
(sbt compiles ../src/main/scala together with perfbench/src); later runs
reuse the build while the sources are unchanged. The JVM runs Spark at
local[nproc] with a heap of half the machine's memory, clamped to 2-8 GB.
The last line of stdout is the run's JSON result; everything the run
writes stays under .bench_work/ and perfbench/target/ in the checkout.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            fail(f"missing sources: {os.path.relpath(base, ROOT)}")
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on exit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    try:
        os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
    except ProcessLookupError:
        pass
    return p.returncode, out


def spark_home():
    """SPARK_HOME, or the first Spark installation (bin/spark-submit next
    to jars/) on the PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.abspath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation: set SPARK_HOME")


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "benchClasspath"]
    rc, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                      stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def clean(work):
    """Delete what a run left in its work dir, except the spans file."""
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif name != "spans.jsonl":
            os.remove(p)


def heap():
    """Half of RAM, clamped to 2-8 GB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as f:
        cp = os.pathsep.join([os.path.join(TARGET, "scala-2.13", "classes"), f.read().strip()])
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mem = heap()
    cmd = ["java", f"-Xmx{mem}", f"-Xms{mem}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    # Flagship's crawl (the engine-backed queries) writes under this root
    env = dict(os.environ, SPARK_GRAFT_WORK_ROOT=os.path.join(work, "flagship"))
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        clean(work)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited {rc}")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
