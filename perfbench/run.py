#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload event_store --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload registry_sf001 --seed 1 --seconds 5 --trace 0 --smoke 1

Builds the program from source on first use (sbt, offline, into
.bench_build/), then runs the harness in one JVM. The JVM's stdout is
passed through; its last line is the result object. A class-data-sharing
archive and event_store's bulk-ingested log are made once per build and
data set (one more JVM, into .bench_build/prepared/) and reused by every
run. Set PERFBENCH_DATA to the directory that holds the sf0.001, sf0.01
and sf0.1 tables if they are not in the repository's documented
test-data location (TESTDATA.md).
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH_FILE = os.path.join(BUILD, "classpath.txt")
STAMP_FILE = os.path.join(BUILD, "sources.sha256")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
FIXTURE_TIMEOUT_S = 300
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_roots():
    return [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]


def sources_digest():
    h = hashlib.sha256()
    for root in source_roots():
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; cache the runtime classpath.
    Returns the digest of the sources built."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == digest:
                return digest
    log("building the program and the harness (sbt, offline)")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(classpath)
    with open(STAMP_FILE, "w") as fh:
        fh.write(digest)
    return digest


def data_dir():
    """PERFBENCH_DATA, else the test-data root that TESTDATA.md documents."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
        m = re.search(r"`([^`]+)/sf0\.001/?`", fh.read())
    if not m:
        raise SystemExit("set PERFBENCH_DATA: TESTDATA.md names no sf0.001 directory")
    return m.group(1)


def jvm(work, args, timeout, flags=()):
    """Run perfbench.Main in its own process group, scratch space under
    `work`; returns the exit code (124 when it ran out of time)."""
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM warnings go to stderr, so stdout carries only the harness's lines
    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *flags]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--data", data_dir(), "--work", work] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"JVM exceeded {timeout} s and was stopped")
        return 124


def prepare(digest, smoke):
    """What every run of this build reuses, made on first use by one JVM
    that bulk-ingests and saves event_store's log:
      - a class-data-sharing archive of the classes that JVM loaded,
        which takes class loading (about 5 s of Spark start-up) out of
        every later JVM;
      - that log, for the data set, which event_store runs copy.
    Kept under .bench_build/prepared/ until the sources change. Returns
    (archive, log directory)."""
    root = os.path.join(BUILD, "prepared")
    home = os.path.join(root, digest[:16])
    archive = os.path.join(home, "classes.jsa")
    sf = "sf0.001" if smoke else "sf0.1"
    final = os.path.join(home, sf)
    if os.path.exists(os.path.join(final, "ingested")):
        return archive, final
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old != digest[:16]:
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    log(f"preparing: bulk-ingesting and saving the {sf} event_store log")
    work = os.path.join(home, f".{sf}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dump = f"{archive}.{os.getpid()}"
    flags = [] if os.path.exists(archive) else [f"-XX:ArchiveClassesAtExit={dump}"]
    code = jvm(work, ["--prepare-log", "--smoke", str(int(smoke))], FIXTURE_TIMEOUT_S, flags)
    if code != 0 or not os.path.exists(os.path.join(work, "ingested")):
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"preparing the event_store log failed (exit {code})")
    if os.path.exists(dump):
        os.rename(dump, archive)
    for scratch in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)
    os.rename(work, final)
    return archive, final


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a checkout: src/main/scala/graft is missing")
    archive, log_dir = prepare(build(), args.smoke)
    flags = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    # shared_log compiles with C1 only: in a fresh JVM, C2's compiler
    # threads took about half of four cores beside its four client
    # threads and Spark's tasks, and its throughput swung with them from
    # run to run (README.md, shared_log, "JIT")
    if args.workload == "shared_log":
        flags.append("-XX:TieredStopAtLevel=1")
    extra = ["--fixture", log_dir] if args.workload == "event_store" else []

    # the JVM ends with halt(), which skips Spark's shutdown hooks, so all
    # of its scratch space lives under the work directory removed below
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        code = jvm(work, ["--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--smoke", str(args.smoke),
                          "--launched-ms", str(int(time.time() * 1000))] + extra,
                   RUN_TIMEOUT_S, flags)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
