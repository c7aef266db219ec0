#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out set1.json

Run from the repository root. For every workload in BENCHMARK.json it
makes `--runs` untraced runs, each on its own seed, and records per
end-to-end metric the median, the quartiles and the spread: the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`). With `--compare` it also checks
a second set against a first one: every spread within its bound, and
no median worse than the first set's by more than the bound. The
spread of setup_s is reported but not held to its bound: set-up time
is compared between sets by its median only, since a run sets up only
a few times and the first set-up in a JVM is a large share of it.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_set(spec, runs, first_seed, workloads):
    out = {"cpus": len(os.sched_getaffinity(0)), "runs": runs,
           "first_seed": first_seed, "workloads": {}}
    for w in workloads:
        results = []
        for i in range(runs):
            seed = first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True)
            wall = time.time() - t0
            last = (p.stdout.strip().splitlines() or ["{}"])[-1]
            r = json.loads(last) if last.startswith("{") else {}
            results.append({"seed": seed, "exit": p.returncode,
                            "wall_s": round(wall, 1), "result": r})
            print(f"{w} seed {seed}: exit {p.returncode} {wall:.0f}s",
                  file=sys.stderr, flush=True)
        out["workloads"][w] = {"runs": results,
                               "metrics": summarize(spec, results)}
    return out


def summarize(spec, results):
    ok = [r["result"] for r in results if r["result"].get("correct")]
    s = {}
    for m in spec["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        s[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med if med else None,
                        "bound": m["bound"]}
    s["_correct_runs"] = len(ok)
    return s


def compare(spec, first, second):
    """Problems with the second set against the first, as strings."""
    bad = []
    for w, ws in second["workloads"].items():
        for m in spec["end_to_end"]:
            n, b = m["name"], m["bound"]
            a, c = first["workloads"][w]["metrics"].get(n), ws["metrics"].get(n)
            if a is None or c is None:
                bad.append(f"{w} {n}: missing")
                continue
            for label, st in (("first", a), ("second", c)):
                if n != "setup_s" and st["spread"] > b:
                    bad.append(f"{w} {n}: {label} spread {st['spread']:.3f} > {b}")
            worse = (c["median"] - a["median"]) / a["median"]
            if m["better"] == "higher":
                worse = -worse
            if worse > b:
                bad.append(f"{w} {n}: second median worse by {worse:.3f} > {b}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", help="a first set's JSON to check against")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    res = run_set(spec, a.runs, a.first_seed, names)
    if a.compare:
        with open(a.compare) as f:
            res["problems"] = compare(spec, json.load(f), res)
    with open(a.out, "w") as f:
        json.dump(res, f, indent=1)
    for w, ws in res["workloads"].items():
        for n, st in ws["metrics"].items():
            if not n.startswith("_"):
                print(f"{w:14s} {n:20s} median {st['median']:12.3f} "
                      f"spread {st['spread']:.3f} (bound {st['bound']})")
    for p in res.get("problems", []):
        print("PROBLEM", p)
    sys.exit(1 if res.get("problems") else 0)


if __name__ == "__main__":
    main()
