#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload {graph_iterate,cli_pipeline,gate_sweep}
        --seed N --seconds S --trace {0,1} [--smoke] [--record-check]

On first use, or when a Scala source changed, it builds graft and the
harness from source with sbt into perfbench/target, packs the classes into
a jar and records a class-data-sharing archive of the classes a tiny run of
every timed workload loads. It then starts one harness JVM, which sets up,
warms up and measures the workload (see perfbench/NOTES.md). The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes perfbench/work/trace-<workload>.json.
--smoke runs tiny inputs; --record-check checks the default-seed
200,000-page graph against the frozen bench's record instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "perfbench.jar")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("graph_iterate", "cli_pipeline", "gate_sweep")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (GRAFT_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm_flags(tmp):
    # JVM warnings go to the log, not to the result's stdout
    return [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]


def pack(classes, jar):
    """Packs a class directory into a jar: the JVM archives classes from
    jars only."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, names in sorted(os.walk(classes)):
            dirs.sort()
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))


def record_archive(cp):
    """Runs every timed workload once on tiny inputs and archives the
    classes it loaded; the measured JVMs then map them instead of loading
    them. Without an archive the benchmark still runs, only slower."""
    work = os.path.join(TARGET, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        with open(os.path.join(TARGET, "train.log"), "w") as log:
            subprocess.run(
                [java()] + jvm_flags(os.path.join(work, "tmp")) +
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-cp", cp, "perfbench.Main",
                 "--workload", "train", "--smoke", "--bench", HERE, "--work", work],
                cwd=work, stdin=subprocess.DEVNULL, stdout=log, stderr=log, timeout=RUN_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired):
        pass
    shutil.rmtree(work, ignore_errors=True)


def classpath():
    """The harness classpath, building first when the sources changed."""
    cp_file = os.path.join(TARGET, "bench.classpath")
    stamp_file = os.path.join(TARGET, "bench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if os.path.join("perfbench", "target") in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip().split(os.pathsep)
    classes = os.path.join(TARGET, "scala-2.13", "classes")
    if classes not in cp:
        fail(f"build left no {classes}")
    pack(classes, JAR)
    cp = os.pathsep.join(JAR if e == classes else e for e in cp)
    record_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-check", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft's sources are not beside the benchmark ({GRAFT_SRC})")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark distribution")
    cp = classpath()
    started = time.time()  # the run's time limit excludes the build

    work_root = os.path.join(HERE, "work")
    work = os.path.join(work_root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = [java()] + jvm_flags(os.path.join(work, "tmp")) + cds + [
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--bench", HERE, "--work", work]
    cmd += ["--smoke"] * a.smoke + ["--record-check"] * a.record_check
    log_path = os.path.join(work_root, f"jvm-{a.workload}.log")
    limit = RUN_LIMIT_S * (4 if a.record_check else 1) - (time.time() - started)
    with open(log_path, "w") as log:
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=max(limit, 30))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"timed out; JVM log in {log_path}", 1)
    trace_file = os.path.join(work, f"trace-{a.workload}.json")
    if os.path.exists(trace_file):
        shutil.move(trace_file, os.path.join(work_root, f"trace-{a.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if not line.startswith("PERFBENCH_RESULT "):
            print(line)
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or (not a.record_check and not results):
        fail(f"harness exited with {p.returncode}; JVM log in {log_path}", 1)
    if results:
        result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
        print(json.dumps(result))


if __name__ == "__main__":
    main()
