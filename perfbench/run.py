#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt the first time
(or whenever a source file changed), then runs the workload in one JVM
on local[nproc]. The last line of standard output is the result object.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD = ".bench_build"
CLASSES = "perfbench/target/scala-2.13/classes"
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("ingest_daily", "backfill_history", "corpus_prep", "serve_mixed")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src/main", "perfbench/build.sbt", "perfbench/project/build.properties"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd="perfbench", env=env, stdout=log, timeout=deadline - time.time())
    if code != 0:
        fail(f"build failed (exit {code}); see {BUILD}/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout or
    when this script is stopped, and waits for it, so nothing outlives
    the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def heap():
    """Half of physical memory, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("perfbench/build.sbt")):
        fail("run from the root of a source checkout (src/main/scala/graft is missing)")
    started = time.time()
    os.makedirs(BUILD, exist_ok=True)
    build(started + 840)
    # a run costs about a minute of start-up, set-up and warm-up plus its
    # loop; 175 s from the start covers the default run length
    deadline = max(started + 175, time.time() + 115 + 2 * args.seconds)

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--work", work])
    try:
        code = run_group(cmd, timeout=deadline - time.time())
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
