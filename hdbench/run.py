#!/usr/bin/env python3
"""HDBSCAN-at-scale benchmark launcher.

Run from the repository root:

    python3 hdbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt when no build exists
or a source is newer than the last build, then runs one benchmark JVM on
local[<all cores>]. Build and JVM logs go to stderr; the last stdout line is
the JVM's result JSON. See hdbench/README.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg):
    print(f"[hdbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, cwd, timeout, stdout=None):
    """Run cmd in its own process group and return its exit code, or None on
    timeout. The whole group is stopped and waited for on every way out,
    SIGTERM to this launcher included."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL, stdout=stdout,
                            start_new_session=True)

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def sources():
    yield ROOT / "build.sbt"
    yield BENCH / "build.sbt"
    for base in (ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"):
        for p in base.rglob("*"):
            if p.is_file() and "target" not in p.parts and p.suffix in (
                    ".scala", ".java", ".sbt", ".properties"):
                yield p


def build():
    stamp = LAUNCH / "classpath.txt"
    if stamp.exists():
        built = stamp.stat().st_mtime
        if all(p.stat().st_mtime <= built for p in sources() if p.exists()):
            return
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                     BENCH, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code is None:
        fail("build timed out")
    if code != 0 or not stamp.exists():
        fail("build failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "hdbscan").is_dir():
        fail(f"engine sources not found under {ROOT / 'src'}")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    build()

    cp = (LAUNCH / "classpath.txt").read_text().strip()
    # the engine build's JVM options (module opens for Spark on JDK 17), with
    # the benchmark's own heap size in place of the engine's
    opts = [o for o in (LAUNCH / "jvm-options.txt").read_text().split("\n")
            if o and not o.startswith("-Xmx")]
    tmp = TARGET / "tmp" / str(os.getpid())
    tmp.mkdir(parents=True, exist_ok=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), *opts, HEAP,
           # deep call sites: a job's layer can sit many frames above the
           # Spark action that submitted it
           "-Dspark.callstack.depth=200",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", cp, "hdbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace]
    try:
        code = run_child(cmd, ROOT, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail("run timed out")
    sys.exit(code)


if __name__ == "__main__":
    main()
