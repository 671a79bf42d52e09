#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
driver from source (sbt, offline) into .bench_build/ and later runs
reuse that build while the sources are unchanged. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ods_nightly", "art_cohort", "corpus_ingest")

# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "1g"
# Few glibc malloc arenas (as YARN containers run), so native memory and
# with it peak RSS do not swing with thread scheduling.
JVM_ENV = dict(os.environ, MALLOC_ARENA_MAX="2")
RUN_LIMIT_S = 175      # one run, build excluded
BUILD_LIMIT_S = 880    # the first run in a checkout builds


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the driver's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.abspath(__file__)]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if os.path.isfile(os.path.join(d, f))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for dp, dns, fns in os.walk(d):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    return files


def java_cmd(cp, work, extra=()):
    """The JVM command line every benchmark JVM shares; `work` is the
    run's own directory, removed when the run ends."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Djava.io.tmpdir=" + tmp,
           # JVM warnings (e.g. about the class archive) go to stderr,
           # never into the result stream.
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + list(extra) + ["-cp", cp, "perfbench.Main"]


def build():
    """Compile (if the sources changed) and return the runtime classpath.

    The build packages the program and the driver as jars, then runs every
    workload once, briefly, to record the classes a run loads in a JVM
    class-data archive (AppCDS). Runs map that archive, which takes about
    a third off a cold Spark start on a small host. A failed recording
    only costs that saving."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(OUT, "build")
    cp_file = os.path.join(bdir, "classpath")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            if fh.read().strip() == stamp:
                cp = fc.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp, False
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "sbt.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(bdir, "sbt-global"),
           "export perfbench/Runtime/fullClasspathAsJars"]
    print("perfbench: building (sbt) ...", file=sys.stderr)
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE,
                               stderr=lf, stdin=subprocess.DEVNULL,
                               timeout=BUILD_LIMIT_S - 60, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    jsa = os.path.join(bdir, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(OUT, "work", f"train-{os.getpid()}")
    print("perfbench: recording the class archive ...", file=sys.stderr)
    with open(log, "a") as lf:
        try:
            subprocess.run(java_cmd(cp, work, ["-XX:ArchiveClassesAtExit=" + jsa]) + [
                "--workload", "train", "--seed", "0", "--seconds", "0",
                "--trace", "1", "--root", ROOT, "--work", work],
                cwd=ROOT, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                timeout=300, env=JVM_ENV)
        except subprocess.TimeoutExpired:
            pass
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    t0 = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "next to the benchmark; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp, built = build()
    work = os.path.join(OUT, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    jsa = os.path.join(OUT, "build", "classes.jsa")
    extra = ["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else []
    cmd = java_cmd(cp, work, extra) + ["--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", ROOT, "--work", work]
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, timeout=max(limit, 10),
                           text=True, env=JVM_ENV)
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for l in lines[:-1]:
        print(l)
    if p.returncode != 0 or not isinstance(result, dict):
        fail(f"driver exited {p.returncode} without a result", 1)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
