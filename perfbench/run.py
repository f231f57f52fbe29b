#!/usr/bin/env python3
"""Benchmark of the medallion CDC pipeline (landing -> Bronze -> Silver MERGE
-> Gold CDF fold, plus maintained views and SQL reads).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload trickle|bulk|serve --seed N \
        --seconds S --trace 0|1 [--cores C]

Builds the engine and the benchmark from source with sbt on first use
(rebuilt whenever a source file changes), then runs one workload in a fresh
JVM. The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
# The compiled classes as a jar, and a class-data-sharing archive of every
# class a run loads (CDS takes classes from jars only, not from directories).
# The archive is dumped once per build, by a short run; each measured JVM
# then maps the classes pre-parsed and pre-verified instead of loading them,
# which takes about 8 s of class loading off each run's set-up.
JAR = BENCH / "target" / "perfbench.jar"
ARCHIVE = BENCH / "target" / "perfbench.jsa"
ARCHIVE_TIMEOUT_S = 300
JVM_TIMEOUT_S = 170
# A fixed heap with fixed generations: the resident set then follows the
# work done, not the collector's adaptive sizing, so peak_rss_mb repeats.
HEAP = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g", "-Xmn1g"]
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked test and run JVMs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    ]
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((BENCH / "src").rglob("*"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    if not (ROOT / "src" / "test" / "resources" / "cdc" / "seed.json").is_file():
        fail("reference fixtures src/test/resources/cdc are missing")
    if "SPARK_HOME" not in os.environ or shutil.which("sbt") is None:
        fail("needs sbt on PATH and SPARK_HOME set")
    digest = source_digest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(CLASSES).as_posix())
    dump_archive()
    STAMP.write_text(digest)


def java_cmd(jvm_opts, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    classpath = os.pathsep.join([str(JAR), os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    return [java, *ADD_OPENS, *HEAP, "-XX:-UsePerfData", *jvm_opts,
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}", "-cp", classpath,
            "perfbench.Main", *main_args]


def dump_archive():
    """Writes ARCHIVE from a one-second trickle run, whose classes cover
    every workload's. Without an archive the runs still work, only slower to
    set up, so a failed dump is reported and not fatal."""
    ARCHIVE.unlink(missing_ok=True)
    tmp = BENCH / "target" / "archive-run"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = java_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={tmp}"],
                   ["--workload", "trickle", "--seed", "0", "--seconds", "1", "--trace", "0",
                    "--launch-ms", repr(time.time() * 1000.0), "--out", str(tmp)])
    with open(BENCH / "target" / "archive.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=ROOT, env=dict(os.environ, SPARK_LOCAL_DIRS=str(tmp)),
                               stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                               timeout=ARCHIVE_TIMEOUT_S)
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    shutil.rmtree(tmp, ignore_errors=True)
    if not ok or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        print("perfbench: no class-data-sharing archive (see target/archive.log); "
              "runs load their classes", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["trickle", "bulk", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--cores", type=int, default=4,
                    help="local[C] cores and shuffle partitions (1 gives the single-core base)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    build()
    OUT.mkdir(parents=True, exist_ok=True)
    scratch = OUT / f"jvm-{os.getpid()}"
    scratch.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch))
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    launch_ms = time.time() * 1000.0
    cmd = java_cmd([*(cds if ARCHIVE.is_file() else []), f"-Djava.io.tmpdir={scratch}"],
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", a.trace, "--cores", str(a.cores),
                    "--launch-ms", repr(launch_ms), "--out", str(OUT)])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(OUT / f"work-{a.workload}-{a.seed}-{proc.pid}", ignore_errors=True)
        fail(f"the run did not finish within {JVM_TIMEOUT_S} s", code=3)
    shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines or not lines[-1].startswith("{"):
        fail(f"the run printed no result (exit code {proc.returncode})", code=proc.returncode or 4)
    print(lines[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
