#!/usr/bin/env python3
"""Build graft from this checkout's sources and run one syncbench workload.

    python3 syncbench/run.py --workload sync_bulk --seed 1 --seconds 10 --trace 0
    python3 syncbench/run.py --self-test

The engine (src/main/scala of the checkout) and the benchmark are compiled
with the Scala compiler that ships in the Spark distribution the engine's
build.sbt names as `unmanagedBase` (SPARK_HOME overrides it), into
.bench_build/syncbench/, keyed by a hash of the sources, so a run always
measures the sources beside it. Each run gets a fresh temp root under
.bench_build/, deleted when the run ends. The last stdout line is the
result JSON; the line before it carries the run's detail and environment.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "syncbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit: the engine build's jdk17AddOpens set.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg, code=2):
    print("syncbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        d = os.path.join(home, "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            fail("no build.sbt beside the benchmark: run it from a graft checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) \
        if os.path.isdir(d) else []
    if not jars:
        fail("no Spark jars in " + d)
    return jars


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def key(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(out, files, classpath, jars):
    """Compile `files` into `out` once; concurrent runs race on a rename."""
    if os.path.isdir(out):
        return
    stage = out + ".tmp%d" % os.getpid()
    os.makedirs(stage, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "-nowarn",
           "-d", stage, "-classpath", os.pathsep.join(classpath)] + files
    t = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(stage, ignore_errors=True)
        fail("compile failed: " + os.path.relpath(out, ROOT), 1)
    try:
        os.rename(stage, out)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    print("syncbench: compiled %s in %.1fs" % (os.path.basename(out), time.time() - t),
          file=sys.stderr)


def build(with_tests):
    engine = scala_files(ENGINE_SRC)
    if not engine:
        fail("no engine sources under src/main/scala: run from a graft checkout")
    jars = spark_jars()
    ek = key(engine, "\n".join(jars))
    engine_out = os.path.join(BUILD, "engine-" + ek)
    bench = scala_files(BENCH_SRC) + (scala_files(TEST_SRC) if with_tests else [])
    bench_out = os.path.join(BUILD, "bench-" + key(bench, ek))
    os.makedirs(BUILD, exist_ok=True)
    for d in os.listdir(BUILD):  # drop builds of other sources
        p = os.path.join(BUILD, d)
        if d.startswith(("engine-", "bench-")) and ".tmp" not in d \
                and p not in (engine_out, bench_out):
            shutil.rmtree(p, ignore_errors=True)
    compile_into(engine_out, engine, jars, jars)
    compile_into(bench_out, bench, [engine_out] + jars, jars)
    return [bench_out, engine_out] + jars


def run_java(classpath, main, args, tmp):
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp] + JVM_FLAGS + \
        ["-cp", os.pathsep.join(classpath), main] + args
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, cwd=tmp, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run exceeded %ds" % RUN_TIMEOUT_S, 1)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classpath = build(a.self_test)
    tmp = os.path.join(ROOT, ".bench_build", "run-%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(tmp)
    try:
        if a.self_test:
            code, out = run_java(classpath, "syncbench.SelfTest", ["--tmp", tmp], tmp)
            sys.stdout.write(out)
            sys.exit(code)
        t0_ms = int(time.time() * 1000)
        code, out = run_java(classpath, "syncbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tmp", tmp, "--t0-ms", str(t0_ms)], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail("run ended with code %d and no result line" % code, 1)
    sys.stdout.write("\n".join(lines[-2:]) + "\n")


if __name__ == "__main__":
    main()
