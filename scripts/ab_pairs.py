#!/usr/bin/env python3
"""A/B the array-store benchmark between two checkouts in alternating pairs.

    python3 scripts/ab_pairs.py --parent DIR --change DIR
        [--workloads scan,timetravel] [--seeds 101-110] [--seconds S]
        [--trace 0|1] [--claim METRIC[,METRIC]] [--out FILE]
    python3 scripts/ab_pairs.py --self-test

For each workload and seed it runs `python3 perfbench/run.py` once in the
parent checkout and once in the change checkout, one run at a time, and
alternates which one goes first (pair 0 parent first, pair 1 change first,
...), so slow drift of the host lands on both sides alike. Each run builds
what it runs from its own checkout.

For every metric of every workload it prints both sides' medians and
quartiles (statistics.quantiles(values, n=4)) and the change's wins: the
pairs in which the change is better, in the metric's direction from
BENCHMARK.json. Then, per metric:

  rule   the claim rule: at least 10 pairs, the change better in at least
         nine of ten of them, and the medians' gap, in the better
         direction, larger than the parent's interquartile range; no
         metric of a workload meets it when the change's runs fail a
         larger share of their attempted operations than the parent's;
  bound  for end-to-end metrics, whether the change's median is worse than
         the parent's by more than the metric's BENCHMARK.json bound (a
         fraction of the parent's median).

Only BENCHMARK.json (read from the change checkout) is read; nothing is
written except the raw results with --out. The exit code is 1 when a run
fails or answers wrongly, when the change fails a larger share of
operations than the parent, when an end-to-end metric is worse than its
bound, or when a --claim metric misses the rule.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def directions(bench):
    """metric name -> (better, bound or None)."""
    out = {}
    for m in bench.get("per_layer", []):
        out[m["name"]] = (m["better"], None)
    for m in bench["end_to_end"]:
        out[m["name"]] = (m["better"], m["bound"])
    return out


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def better(a, b, direction):
    """True when a is better than b."""
    return a < b if direction == "lower" else a > b


def summarize(name, pairs, direction, bound):
    """pairs: [(parent, change)] of one metric. Returns a dict."""
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for p, c in pairs if better(c, p, direction))
    gap = (pmed - cmed) if direction == "lower" else (cmed - pmed)
    rule = (len(pairs) >= 10 and wins * 10 >= 9 * len(pairs)
            and gap > pq3 - pq1)
    worse = None
    if bound is not None:
        rel = -gap / abs(pmed) if pmed else (0.0 if gap >= 0 else math.inf)
        worse = rel > bound
    return {"metric": name, "pairs": len(pairs), "better": direction,
            "parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
            "wins": wins, "gap": gap, "rule": rule, "bound": bound,
            "worse_than_bound": worse}


def run_once(checkout, workload, seed, secs, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(secs), "--trace", trace]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    last = None
    for line in proc.stdout.splitlines():
        if line.startswith("{"):
            last = line
    if last is None:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "exit": proc.returncode}
    result = json.loads(last)
    result["exit"] = proc.returncode
    return result


def failures(runs, side):
    """(failed, attempted) summed over one side's runs; side 1 is the
    parent, 2 the change. A run that printed no result counts one failed
    of one attempted (run_once)."""
    failed = sum(r[side].get("failed", 0) for r in runs)
    attempted = sum(r[side].get("attempted", 0) for r in runs)
    return failed, attempted


def fails_more(runs):
    """True when the change fails a larger share of its attempted
    operations than the parent."""
    pf, pa = failures(runs, 1)
    cf, ca = failures(runs, 2)
    return cf * pa > pf * ca


def report(workload, runs, dirs):
    """runs: [(seed, parent result, change result)]. Returns summaries,
    their rule cleared when the change fails a larger share of operations."""
    names = sorted(set().union(*[set(p["metrics"]) & set(c["metrics"])
                                 for _, p, c in runs]))
    out = []
    for n in names:
        if n not in dirs:
            continue
        pairs = [(p["metrics"][n]["value"], c["metrics"][n]["value"])
                 for _, p, c in runs
                 if n in p["metrics"] and n in c["metrics"]]
        out.append(summarize(n, pairs, *dirs[n]))
    more = fails_more(runs)
    for s in out:
        s["rule"] = s["rule"] and not more
    print("== %s: %d pairs" % (workload, len(runs)))
    print("failed/attempted ops: parent %d/%d, change %d/%d%s" % (
        failures(runs, 1) + failures(runs, 2) +
        (" -- the change fails a larger share: no gain counts" if more else "",)))
    print("%-36s %-34s %-34s %5s %5s %s" % (
        "metric", "parent q1/median/q3", "change q1/median/q3", "wins",
        "rule", "bound"))
    for s in out:
        b = "" if s["bound"] is None else (
            "WORSE than %g" % s["bound"] if s["worse_than_bound"] else
            "within %g" % s["bound"])
        print("%-36s %-34s %-34s %2d/%-2d %5s %s" % (
            s["metric"], "/".join("%.4g" % v for v in s["parent"]),
            "/".join("%.4g" % v for v in s["change"]), s["wins"], s["pairs"],
            "met" if s["rule"] else "no", b))
    return out


def self_test():
    bench = {"end_to_end": [{"name": "op_ms", "better": "lower", "bound": 0.25},
                            {"name": "mib_s", "better": "higher", "bound": 0.25}],
             "per_layer": [{"name": "jobs", "better": "lower"}]}
    dirs = directions(bench)
    assert dirs["op_ms"] == ("lower", 0.25) and dirs["jobs"] == ("lower", None)
    assert seeds("1-3,7") == [1, 2, 3, 7]
    # a clear gain: every pair better, the gap far beyond the parent's IQR
    gain = [(2000 + 10 * i, 1200 + 10 * i) for i in range(10)]
    s = summarize("op_ms", gain, *dirs["op_ms"])
    assert s["wins"] == 10 and s["rule"] and not s["worse_than_bound"], s
    # noise: alternating wins, no rule, within the bound
    noise = [(1000 + (i % 2) * 50, 1000 + ((i + 1) % 2) * 50) for i in range(10)]
    s = summarize("op_ms", noise, *dirs["op_ms"])
    assert s["wins"] == 5 and not s["rule"] and not s["worse_than_bound"], s
    # nine wins of ten, but the gap inside the parent's spread: no rule
    spread = [(1000 + 100 * i, 1000 + 100 * i - 20) for i in range(9)] + [(1000, 1100)]
    s = summarize("op_ms", spread, *dirs["op_ms"])
    assert s["wins"] == 9 and not s["rule"], s
    # too few pairs never meet the rule
    assert not summarize("op_ms", gain[:9], *dirs["op_ms"])["rule"]
    # a 30 % regression of a higher-is-better metric breaks its bound
    s = summarize("mib_s", [(10.0, 7.0)] * 10, *dirs["mib_s"])
    assert s["worse_than_bound"] and s["wins"] == 0, s
    s = summarize("mib_s", [(10.0, 8.0)] * 10, *dirs["mib_s"])
    assert not s["worse_than_bound"], s
    # report() pairs runs by metric and skips unknown ones
    runs = [(i, {"metrics": {"op_ms": {"value": p}, "x": {"value": 1}}},
             {"metrics": {"op_ms": {"value": c}, "x": {"value": 1}}})
            for i, (p, c) in enumerate(gain)]
    out = report("synthetic", runs, dirs)
    assert [s["metric"] for s in out] == ["op_ms"] and out[0]["rule"]
    assert not fails_more(runs)
    # the same gain with more of the change's operations failing: no rule
    worse = [(i, dict(p, failed=0, attempted=100), dict(c, failed=2, attempted=100))
             for i, p, c in runs]
    assert fails_more(worse)
    out = report("synthetic", worse, dirs)
    assert not out[0]["rule"], out
    # equal shares of failures leave the rule alone, and a fail-free
    # change beats a failing parent
    same = [(i, dict(p, failed=1, attempted=50), dict(c, failed=2, attempted=100))
            for i, p, c in runs]
    assert not fails_more(same) and report("synthetic", same, dirs)[0]["rule"]
    fewer = [(i, dict(p, failed=3, attempted=100), dict(c, failed=0, attempted=100))
             for i, p, c in runs]
    assert not fails_more(fewer)
    # a run that printed nothing counts as a failed operation
    empty = [(0, {"failed": 0, "attempted": 10},
              {"correct": False, "attempted": 1, "failed": 1, "metrics": {}})]
    assert fails_more(empty)
    print("self-test ok")
    return 0


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent")
    p.add_argument("--change")
    p.add_argument("--workloads")
    p.add_argument("--seeds", default="101-110")
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", default="0", choices=["0", "1"])
    p.add_argument("--claim", default="")
    p.add_argument("--out")
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args(argv)
    if a.self_test:
        return self_test()
    if not a.parent or not a.change:
        p.error("--parent and --change are required")
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    dirs = directions(bench)
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    secs = a.seconds or bench["run_seconds"]
    claims = [c for c in a.claim.split(",") if c]
    raw, ok = {}, True
    for w in workloads:
        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            got = {}
            for side, checkout in order:
                got[side] = run_once(checkout, w, seed, secs, a.trace)
                r = got[side]
                print("  %s seed %d %s: correct=%s failed=%s exit=%s" % (
                    w, seed, side, r["correct"], r.get("failed"), r["exit"]),
                    flush=True)
                ok &= bool(r["correct"]) and r["exit"] == 0
            runs.append((seed, got["parent"], got["change"]))
        out = report(w, runs, dirs)
        raw[w] = {"runs": runs, "summary": out}
        if fails_more(runs):
            ok = False
        for s in out:
            if s["worse_than_bound"]:
                ok = False
            if s["metric"] in claims and not s["rule"]:
                ok = False
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(raw, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
