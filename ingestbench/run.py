"""Ingest benchmark entry point.

    python3 ingestbench/run.py --workload corpus_ftp --seed 1 --seconds 8 --trace 0
    python3 ingestbench/run.py --selftest

Run from the root of a checkout. Builds the program and the benchmark
from source into .bench_build/ (once per checkout), then runs one
workload in one JVM and relays its output; the last line of standard
output is the JSON result. Every file it writes stays under
.bench_build/. Exits non-zero, without a result line, when the build
or the run fails.
"""
import argparse
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 600

JVM_OPTS = [
    # Spark 4 on JDK 17 outside spark-submit needs these opens.
    *[a for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                  "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                  "java.base/sun.util.calendar"]
      for a in ("--add-opens", p + "=ALL-UNNAMED")],
    # The program's own run settings (build.sbt): a fixed-size ParallelGC
    # heap of SPARK_DRIVER_MEM (default 12g), so heap pages are touched
    # once and reused and page-fault cost does not move with GC timing,
    # and a code cache large enough that the JIT never stops.
    "-Xms" + os.environ.get("SPARK_DRIVER_MEM", "12g"), "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "12g"),
    "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
    "-Duser.timezone=UTC",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    build_dir = os.path.join(os.getcwd(), ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes = build.build(build_dir)
    except build.BuildError as e:
        print("ingestbench: build failed: %s" % e, file=sys.stderr)
        return 1

    work = os.path.join(build_dir, "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    java = ["java", *JVM_OPTS, "-Djava.io.tmpdir=" + tmp, "-cp", cp]
    if a.selftest:
        cmd, timeout, log = java + ["ingestbench.SelfTest", work], SELFTEST_TIMEOUT_S, "selftest.log"
    else:
        out = os.path.join(build_dir, "trace", "%s-seed%d" % (a.workload, a.seed))
        cmd = java + ["ingestbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", repr(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out]
        timeout, log = RUN_TIMEOUT_S, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace)
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8", TZ="UTC")
    log_path = os.path.join(logs, log)
    try:
        rc, last = run(cmd, env, log_path, timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        return rc
    if rc != 0 or not is_result(last):
        print("ingestbench: run failed (exit %s); JVM log %s:" % (rc, log_path), file=sys.stderr)
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return rc or 1
    return 0


def run(cmd, env, log_path, timeout):
    """Runs cmd, relaying stdout; stderr goes to log_path. Returns
    (exit code, last stdout line). Kills the JVM's process group on
    timeout and always waits for it to end."""
    last = ""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, start_new_session=True)
        deadline = time.monotonic() + timeout
        try:
            sel = selectors.DefaultSelector()
            sel.register(p.stdout, selectors.EVENT_READ)
            buf = b""
            while True:
                left = deadline - time.monotonic()
                if left <= 0:
                    print("ingestbench: run exceeded %d s, killed" % timeout, file=sys.stderr)
                    return 124, ""
                if not sel.select(timeout=min(left, 1.0)):
                    continue
                chunk = os.read(p.stdout.fileno(), 65536)
                if not chunk:
                    break
                buf += chunk
                *lines, buf = buf.split(b"\n")
                for line in lines:
                    text = line.decode(errors="replace")
                    if text.strip():
                        last = text
                    print(text, flush=True)
            if buf.strip():
                last = buf.decode(errors="replace")
                print(last, flush=True)
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
            return rc, last
        except subprocess.TimeoutExpired:
            return 124, ""
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def is_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}


if __name__ == "__main__":
    sys.exit(main())
