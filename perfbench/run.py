#!/usr/bin/env python3
"""Run one workload of the dedup engine's benchmark.

    python3 perfbench/run.py --workload batch_sparse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine from the
checkout's own sources together with the benchmark (sbt, offline) into
.bench_build/; later runs reuse that build until a source file changes.
Spark runs in-process at local[nproc], with all scratch data under
.bench_build/run-<pid>/, removed when the run ends.

The last line of standard output is the JSON result; build and Spark logs go
to standard error. The exit code is non-zero when the build or the run fails,
or when an output check fails.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("batch_sparse", "batch_clones", "stream_ingest")
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    yield BENCH / "build.sbt"
    yield BENCH / "project" / "build.properties"
    for d in (ENGINE_SRC, BENCH / "src"):
        yield from d.rglob("*.scala")


def build():
    """Compile engine + benchmark unless the recorded classpath is newer than
    every source. Returns the classpath."""
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists():
        built = cp_file.stat().st_mtime
        if all(s.stat().st_mtime <= built for s in sources()):
            return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "writeClasspath"]
    log("building: " + " ".join(cmd))
    t0 = time.time()
    done = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if done.returncode != 0 or not cp_file.exists():
        raise SystemExit(f"[perfbench] build failed (exit {done.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    return cp_file.read_text().strip()


def build_id():
    """Digest of every source the build compiles."""
    h = hashlib.sha256()
    for s in sorted(sources()):
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    return h.hexdigest()[:16]


def heap():
    """A quarter of the host's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        gib = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{min(4, max(2, gib))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "smoke"),
                    help="smoke: tiny inputs on the same code path (the benchmark's own tests)")
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not ENGINE_SRC.is_dir() or not (BENCH / "build.sbt").is_file():
        raise SystemExit(f"[perfbench] run from a checkout root: {ENGINE_SRC} or {BENCH / 'build.sbt'} is missing")

    cp = build()
    scratch = BUILD / f"run-{os.getpid()}"
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    # keep Spark's scratch space inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java", *[a for o in ADD_OPENS for a in ("--add-opens", o)],
           # no hsperfdata file in the system temp directory
           f"-Xmx{heap()}", f"-Djava.io.tmpdir={scratch / 'tmp'}", "-XX:-UsePerfData",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", args.trace, "--size", args.size, "--scratch", str(scratch),
           "--state", str(BUILD / "checksums" / build_id())]
    proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_LIMIT_S} s; stopped")
        code = 124
    finally:
        if proc.poll() is None:
            proc.send_signal(signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
