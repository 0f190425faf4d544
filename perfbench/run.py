#!/usr/bin/env python3
"""End-to-end pixetl benchmark launcher.

Builds the benchmark (the repo's main sources plus perfbench/src, with
perfbench/build.sbt) when the build is missing or a source file was
added, changed or removed since it was made, then runs one measurement
in a fresh JVM:

    python3 perfbench/run.py --workload raster_reproject --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload vector_burn --seed 1 --self-test

Run it from the root of a checkout. Every file it writes stays under
perfbench/ (build output in perfbench/target, runs in perfbench/.work).
stdout carries one record line (host stamps + the run's detail) and, as
its last line, the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.stamp")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("raster_reproject", "vector_burn")
RUN_LIMIT_S = 170       # one measurement, build excluded
BUILD_LIMIT_S = 720     # first run in a checkout compiles everything

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return files


def stamp():
    """Digest of every source's path, mtime and size: any added, changed or
    removed source file changes it."""
    h = hashlib.sha256()
    for f in sorted(sources()):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_mtime_ns}\0{st.st_size}\n".encode())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no src/main/scala next to perfbench/; run from a full checkout")
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")
    sbt_home = os.path.join(TARGET, "sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g"]).strip()
    cmd = ["sbt", "-batch",
           f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.boot.directory={sbt_home}/boot",
           f"-Dsbt.ivy.home={sbt_home}/ivy", "-Dsbt.server.forcestart=false",
           f"-Dperfbench.sparkJars={os.path.join(spark_home, 'jars')}",
           "writeClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(want)


def cpu_times():
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that a corrupted published tile is caught")
    a = ap.parse_args()

    build()
    cpus = len(os.sched_getaffinity(0))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # call sites deep enough to reach Pixetl.run's frame from any action
    jvm = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.callstack.depth=200",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "data")]
    if a.self_test:
        jvm.append("--self-test")
    env = {k: v for k, v in os.environ.items() if k not in ("GRAFT_JDBC_URL", "GRAFT_FEATURES")}

    host = {"cpus": cpus, "loadavg_start": loadavg()}
    t0, s0 = cpu_times()
    started = time.time()
    try:
        p = subprocess.run(jvm, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    t1, s1 = cpu_times()
    host.update(loadavg_end=loadavg(), steal_pct=100.0 * (s1 - s0) / max(1, t1 - t0),
                elapsed_s=time.time() - started)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if a.self_test:
        print("\n".join(lines))
        sys.exit(p.returncode)
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: benchmark JVM exited with {p.returncode}")
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"] if len(lines) > 1 else {}
    record["host"] = host
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
