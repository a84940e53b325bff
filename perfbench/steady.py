#!/usr/bin/env python3
"""Run the array-store benchmark repeatedly and report how steady it is.

    python3 perfbench/steady.py [--workloads scan,timetravel]
        [--seeds 1-10] [--trace 0|1] [--seconds S]

Runs perfbench/run.py once per (workload, seed), one run at a time, from
the repository root. For every metric of every workload it prints the
median, the quartiles (Python's statistics.quantiles(values, n=4)) and the
spread (q3 - q1) / median; for end-to-end metrics it also prints the
metric's bound from BENCHMARK.json and whether the spread stays below a
third of it. Each run's line ends with the CPU steal share over the run
(from /proc/stat, where there is one): time the host gave the machine's
processors to others, which slows every wall-clock metric. Any run that fails or answers wrongly makes the exit code 1.
The raw results are written to <build dir>/perfbench/steady-<trace>.json
and each run's standard error to <build dir>/perfbench/logs/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cpu_times():
    """(steal, total) jiffies of all processors, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return None


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv):
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0", choices=["0", "1"])
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = {}
    ok = True
    logs = os.path.join(build.out_dir(), "logs")
    os.makedirs(logs, exist_ok=True)
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                   "--seconds", str(a.seconds), "--trace", a.trace]
            c0 = cpu_times()
            with open(os.path.join(logs, "%s-%d-%s.log" % (w, s, a.trace)), "w") as err:
                r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            c1 = cpu_times()
            steal = ("steal=%.1f%%" % (100.0 * (c1[0] - c0[0]) / max(1, c1[1] - c0[1]))
                     if c0 and c1 else "")
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            if r.returncode != 0 or res is None or not res["correct"]:
                ok = False
                print("%s seed %d: FAILED (exit %d)" % (w, s, r.returncode), flush=True)
                continue
            results.setdefault(w, []).append({"seed": s, **res})
            print("%s seed %d: %s %s" % (w, s, " ".join(
                "%s=%.6g" % (k, v["value"]) for k, v in res["metrics"].items()), steal), flush=True)
    print("\nworkload metric median q1 q3 spread bound verdict")
    for w, runs in results.items():
        if len(runs) < 2:
            continue
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            b = bounds.get(m) if a.trace == "0" else None
            verdict = "" if b is None else ("ok" if sp < b / 3 else "WIDE" if sp <= b else "TOO WIDE")
            print("%-10s %-36s %.6g %.6g %.6g %.4f %s %s" % (
                w, m, med, q1, q3, sp, "-" if b is None else b, verdict))
    out = os.path.join(build.out_dir(), "steady-%s.json" % a.trace)
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
