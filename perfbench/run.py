#!/usr/bin/env python3
"""Benchmark runner for the LUAD pipeline and the query surface.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload luad_ref --seed 1 --seconds 10 --trace 0

Builds the engine plus the harness in `perfbench/` with sbt on first use
(offline, against the local Spark jars), then starts one JVM that runs
the workload and prints one JSON result line as the last line of stdout.
Everything it writes stays under `perfbench/` (build output, work files,
logs and spans).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "classpath.stamp")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("luad_ref", "queries")
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens.
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


def spark_home():
    """The Spark installation whose jars/ are the build's classpath:
    $SPARK_HOME, else /opt/spark, where the project's own build.sbt finds
    its jars."""
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(f"no Spark installation at {home} (set SPARK_HOME to one; its jars/ are the classpath)")
    return home


def source_stamp(spark):
    """Hash of every input of the build, so an edited source or another
    Spark installation rebuilds."""
    h = hashlib.sha256(spark.encode())
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, stdout, stderr):
    """Run cmd in its own process group and wait for it; kill the group
    past `limit` s, or when this script is stopped first."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    spark = spark_home()
    stamp = source_stamp(spark)
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, SPARK_HOME=spark)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         HERE, env, 840, fh, subprocess.STDOUT)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and os.path.join(HERE, "target") in l]
    if rc != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    # SIGTERM unwinds like an exception, so child processes get killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a full source checkout")
    os.makedirs(OUT, exist_ok=True)
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap: the GC's resizing decisions would otherwise move both
    # the timings and the peak RSS from run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work,
           "--data", os.path.join(HERE, "data", "sf0.01"),
           "--expected", os.path.join(HERE, "queries.tsv"),
           "--spans", os.path.join(OUT, f"spans-{tag}.jsonl")]
    log = os.path.join(OUT, f"{tag}.log")
    t0 = time.time()
    try:
        with open(log, "w") as err, open(os.path.join(work, "stdout"), "w") as out:
            rc = run_bounded(cmd, ROOT, dict(os.environ), RUN_LIMIT_S, out, err)
        with open(os.path.join(work, "stdout")) as f:
            lines = [l.strip() for l in f if l.strip().startswith("{")]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{a.workload} run failed (exit {rc}) after {time.time() - t0:.0f} s; log in {log}")
    print(f"perfbench: {tag} ran {time.time() - t0:.1f} s; log in {os.path.relpath(log, ROOT)}",
          file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
