#!/usr/bin/env python3
"""Run one erbench workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 erbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

The first call in a checkout compiles the engine sources (src/main/scala)
together with the benchmark's own (erbench/src/main/scala) through
erbench/build.sbt; later calls reuse the build while those sources are
unchanged. Each call then starts one JVM running erbench.Main. All scratch
data lives under .bench_work/ in the checkout and is removed on exit.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("er_delta", "dedup_delta")
# one run: set-up, the timed loop and the checks; the JVM is stopped past this
JVM_LIMIT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"erbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    stamp = source_stamp()
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        # sbt logs to stdout; keep our stdout for the result line only
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "benchClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launch):
            fail(f"build failed (sbt exit {rc})")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(launch) as fh:
        classpath, opens = fh.read().splitlines()[:2]
    return classpath, opens.split()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}: "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    classpath, opens = build()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={work}",
           "-cp", classpath, "erbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"erbench: run exceeded {JVM_LIMIT_S}s, stopping it",
              file=sys.stderr)
        proc.kill()
        proc.wait()
        rc = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
