#!/usr/bin/env python3
"""Array-store benchmark: run one workload once and print its result.

    python3 perfbench/run.py --workload {scan,timetravel} --seed N \
        --seconds S --trace {0,1} [--corrupt-check]

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), then runs the workload in one JVM on a
local[<cores>] Spark session with a fixed heap. Human-readable metric lines
go to stdout; the last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). The exit code is 0 only
when every operation succeeded and every answer was correct.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "2g"
# a run that has not finished by then is stopped and fails
RUN_TIMEOUT_S = 170
JVM_OPTS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["scan", "timetravel"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--corrupt-check", action="store_true",
                   help="perturb every expected checksum (the run must then fail)")
    return p.parse_args(argv)


def main(argv):
    a = parse(argv)
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        return 2
    base = os.path.abspath(build.out_dir())
    work = os.path.join(base, "work-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [build.java(), "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work] + JVM_OPTS + [
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work, "--out", os.path.join(base, "traces")]
    if a.corrupt_check:
        cmd.append("--corrupt-check")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if last is None:
        print("perfbench: the run printed no result (exit code %s)" % proc.returncode,
              file=sys.stderr)
        return code or 1
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(last)
    return code if code != 0 else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
