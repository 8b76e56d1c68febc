#!/usr/bin/env python3
"""Query-cache benchmark launcher.

    python3 qcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
harness from source with sbt (only when a source file changed since the
last build), then runs one workload in one JVM on local[<cores>] and
prints the harness's result as one JSON object on the last line of
standard output. Everything it writes stays under qcbench/: the build
under qcbench/target, scratch tables and caches under qcbench/work
(removed at exit), per-run reports and traces under qcbench/out.

The build ends with one untimed training run that records the classes
it loads in a class-data-sharing archive (qcbench/target/qcbench.jsa);
every later JVM maps that archive instead of loading and verifying the
same few thousand Spark classes again, which takes about a quarter off
set-up. A JVM that cannot use the archive warns and runs without it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# class-data sharing accepts jars only, not class directories
JAR = os.path.join(HERE, "target", "qcbench.jar")
ARCHIVE = os.path.join(HERE, "target", "qcbench.jsa")
STAMP = os.path.join(HERE, "target", "qcbench.stamp")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("tail_refresh", "adhoc_explore")

BUILD_TIMEOUT_S = 540
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[qcbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no child outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(spark_home, jvm_opts, args):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + jvm_opts + [
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "qcbench.Main"] + args


def run_main(spark_home, jvm_opts, wl, seed, seconds, trace, out):
    """One benchmark JVM in a fresh work directory; returns its exit code
    and its result (None if it wrote none). The work directory is removed
    on every path out."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    result_file = os.path.join(WORK, "result.json")
    cmd = java_cmd(spark_home, jvm_opts, [
        "--workload", wl, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", WORK, "--out", out,
        "--result", result_file])
    try:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK,
                       stdout=sys.stderr, stderr=sys.stderr)
        result = None
        if os.path.isfile(result_file):
            with open(result_file) as fh:
                result = json.load(fh)
        return rc, result
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def build(spark_home):
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.isfile(JAR):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    print("[qcbench] building program + benchmark with sbt", file=sys.stderr)
    try:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if rc != 0:
        die(f"build failed (sbt exit {rc})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, CLASSES))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print("[qcbench] training run for the class-data-sharing archive",
          file=sys.stderr)
    try:
        rc, _ = run_main(spark_home, [f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                      "-Xlog:cds=error"],
                         "tail_refresh", 0, 0, 0, os.path.join(WORK, "out"))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        print(f"[qcbench] no class-data-sharing archive (training run: {rc}); "
              "running without one", file=sys.stderr)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "QueryCacheSession.scala")):
        die("program sources not found next to the benchmark; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark install with a jars/ directory")

    build(spark_home)

    os.makedirs(OUT, exist_ok=True)
    jvm_opts = ([f"-XX:SharedArchiveFile={ARCHIVE}"]
                if os.path.exists(ARCHIVE) else [])
    try:
        rc, result = run_main(spark_home, jvm_opts, a.workload, a.seed,
                              a.seconds, a.trace, OUT)
    except subprocess.TimeoutExpired:
        die("benchmark run timed out")
    if result is None:
        die(f"benchmark JVM exited {rc} without a result")
    print(json.dumps(result, separators=(", ", ": ")))
    sys.stdout.flush()
    if rc != 0 or not result.get("correct"):
        sys.exit(rc if rc != 0 else 1)


if __name__ == "__main__":
    main()
