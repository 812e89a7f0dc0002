#!/usr/bin/env python3
"""Steadiness check for the benchmark, the way its acceptance is judged.

    python3 perfbench/steady.py --runs 10 [--workloads queries,ingest]
                                [--seed-base 1000] [--out steady.json]
    python3 perfbench/steady.py --compare first.json second.json

Runs every workload `--runs` times with distinct seeds (untraced) and
reports, per end-to-end metric, the median and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median. A metric fails when its spread exceeds its bound,
except setup_s: one cold start per run is a single sample that the
host's own start-up noise moves, so its spread is reported (and marked
"wide" past the bound) but, as in the acceptance rule, only its median
is held to the bound, by `--compare`. A run fails when its
first/last timed-pass ratio (trend_first_last, the warm-up trend) is
further from 1 than the wall_s bound. `--compare` checks that no
metric's median in the second file is worse than in the first by more
than its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None, None
    result = json.loads(lines[-1])
    trend = None
    for ln in lines:
        if ln.startswith("detail "):
            result["detail"] = json.loads(ln[len("detail "):])
        if ln.startswith("stamp "):
            result["stamp"] = json.loads(ln[len("stamp "):])
        if ln.startswith(workload + " "):
            for kv in ln.split()[1:]:
                k, _, v = kv.partition("=")
                if k == "trend_first_last":
                    trend = float(v)
    return result, trend


def measure(args, s):
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in s["workloads"]])
    report = {}
    for wi, w in enumerate(names):
        runs = []
        for i in range(args.runs):
            seed = args.seed_base + 100 * wi + i
            res, trend = one_run(w, seed, s["run_seconds"])
            runs.append({"seed": seed, "result": res, "trend": trend})
            ok = res is not None and res["correct"]
            print(f"{w} seed={seed} correct={ok} trend={trend}", flush=True)
        report[w] = runs
    return report


def judge(report, s):
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    trend_bound = bounds.get("wall_s", 0.25)
    ok = True
    summary = {}
    for w, runs in report.items():
        good = [r for r in runs if r["result"] and r["result"]["correct"]]
        if len(good) < len(runs):
            print(f"FAIL {w}: {len(runs) - len(good)} runs failed or incorrect")
            ok = False
        for r in good:
            if r["trend"] is not None and abs(r["trend"] - 1) > trend_bound:
                print(f"FAIL {w} seed={r['seed']}: warm-up trend {r['trend']:.3f}")
                ok = False
        summary[w] = {}
        for m, bound in bounds.items():
            vals = [r["result"]["metrics"][m]["value"] for r in good]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[w][m] = {"median": med, "spread": spread, "bound": bound}
            flag = "ok"
            if spread > bound and m != "setup_s":
                flag, ok = "FAIL", False
            elif spread > bound / 3:
                flag = "wide"
            print(f"{flag:4s} {w:16s} {m:12s} median={med:.6g} "
                  f"spread={spread:.3f} bound={bound}")
    return ok, summary


def compare(a, b, s):
    better = {m["name"]: m["better"] for m in s["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    ok = True
    for w in a:
        for m, x in a[w].items():
            y = b.get(w, {}).get(m)
            if y is None:
                continue
            worse = ((y["median"] - x["median"]) / x["median"]
                     if better[m] == "lower"
                     else (x["median"] - y["median"]) / x["median"])
            flag = "FAIL" if worse > bounds[m] else "ok"
            ok &= flag == "ok"
            print(f"{flag:4s} {w:16s} {m:12s} {x['median']:.6g} -> "
                  f"{y['median']:.6g} ({worse:+.3f}, bound {bounds[m]})")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", nargs=2, metavar="JSON")
    args = ap.parse_args()
    s = spec()
    if args.compare:
        a, b = (json.load(open(p))["summary"] for p in args.compare)
        sys.exit(0 if compare(a, b, s) else 1)
    report = measure(args, s)
    ok, summary = judge(report, s)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": report, "summary": summary}, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
