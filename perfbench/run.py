#!/usr/bin/env python3
"""Runs one workload of graft's benchmark.

    python3 perfbench/run.py --workload <geo_batch|curation|index_serve> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --dissolve-curve

Run it from the root of a graft source tree. The first run builds graft and
the benchmark with sbt (offline) and records the JVM launch arguments under
.bench_build/, with a digest of the sources they were built from. Later runs
reuse them while the digest matches and rebuild (incrementally) when any
build file or main source of graft or the benchmark changed. Every file the
run writes stays under .bench_build/ in the tree. The last stdout line is
the JSON result; the line before it holds the workload-specific detail. Exits
non-zero when the sources are missing, the build fails, the run times out, or
a check or operation fails.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "perfbench-launch.txt")
# digest of the sources LAUNCH's classpath was compiled from
STAMP = os.path.join(BUILD, "perfbench-sources.sha256")
# what the benchmark's classpath is built from: build definitions and main
# sources of graft (the tree root) and of the benchmark
SOURCES = ("build.sbt", "project", os.path.join("src", "main"))
WORKLOADS = ("geo_batch", "curation", "index_serve")
HEAP = "3g"
# a first run (build + run) stays under 900 s, any later run under 180 s
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170

child = None


def stop_child(signum, _frame):
    """Stops the build or the JVM before exiting on SIGTERM or SIGINT."""
    if child is not None and child.poll() is None:
        child.kill()
        child.wait()
    sys.exit(128 + signum)


def sbt_env(tmp):
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    return env


def source_digest():
    """SHA-256 over the path and bytes of every file in SOURCES, under the
    tree root and under perfbench/ (sbt's target/ and project/project/
    output directories excluded)."""
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        for rel in SOURCES:
            top = os.path.join(base, rel)
            if os.path.isfile(top):
                files = [top]
            else:
                files = []
                for d, dirs, names in os.walk(top):
                    dirs[:] = sorted(x for x in dirs if x != "target" and not x.startswith(".")
                                     and not (d == top and x == "project"))
                    files += [os.path.join(d, n) for n in sorted(names)]
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode() + b"\0")
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def built(digest):
    """True when LAUNCH exists and was written from sources with `digest`."""
    if not (os.path.exists(LAUNCH) and os.path.exists(STAMP)):
        return False
    with open(STAMP) as f:
        return f.read().strip() == digest


def build(log, digest):
    """Compiles graft and the benchmark (sbt compiles incrementally); writes
    LAUNCH and STAMP. Returns True on success."""
    global child
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for f in (LAUNCH, STAMP):
        if os.path.exists(f):
            os.remove(f)
    with open(log, "w") as out:
        child = subprocess.Popen(
            ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "launchFile"],
            cwd=HERE, env=sbt_env(tmp), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
        rc = wait_or_kill(child, BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(LAUNCH):
        return False
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return True


def wait_or_kill(proc, limit_s):
    """Waits for `proc`; kills it after `limit_s` seconds and returns 124."""
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("%s exceeded %d s" % (proc.args[0], limit_s), file=sys.stderr)
        return 124


def main():
    global child
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--dissolve-curve", action="store_true")
    a = p.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not a.dissolve_curve and a.workload is None:
        p.error("--workload is required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        print("graft sources (build.sbt, src/main/scala/graft) not found next to perfbench/",
              file=sys.stderr)
        return 2

    log = os.path.join(BUILD, "build.log")
    digest = source_digest()
    if not built(digest) and not build(log, digest):
        print("build failed; see " + log, file=sys.stderr)
        return 3
    with open(LAUNCH) as f:
        jvm_args = [line.rstrip("\n") for line in f if line.strip()]

    work = os.path.join(BUILD, "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           *jvm_args, "graft.perfbench.Main", "--work", work, "--cores", str(cores)]
    if a.dissolve_curve:
        cmd.append("--dissolve-curve")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace]
    jvm_log = os.path.join(BUILD, "jvm-%d.log" % os.getpid())
    try:
        with open(jvm_log, "w") as err:
            child = subprocess.Popen(cmd, cwd=ROOT, env=dict(os.environ, TMPDIR=tmp),
                                     stdout=sys.stdout, stderr=err, stdin=subprocess.DEVNULL)
            rc = wait_or_kill(child, RUN_LIMIT_S)
        if rc != 0:
            with open(jvm_log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(jvm_log):
            os.remove(jvm_log)


if __name__ == "__main__":
    sys.exit(main())
