#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py

Run from the root of a checkout. Runs every workload of BENCHMARK.json ten
times per set, each run with its own seed (1, 2, 3, ...), for two sets of the
same code, then prints per workload and end-to-end metric each set's median
and its spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. A check fails
when a spread exceeds the metric's bound (setup_s is exempt from this rule)
or when the second set's median is worse than the first's by more than the
bound. Raw results go to perfbench/out/steady-<time>.json. Exits 1 when a
check fails.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10
SETS = 2


def run_once(cmd, workload, seed, seconds):
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds",
                              str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: run failed with code {p.returncode}")
    return json.loads(lines[-1])


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def report(bench, results):
    ok = True
    print(f"\n  {'metric':<20} {'unit':<6} {'bound':>6}   " +
          "   ".join(f"{'set' + str(s) + ' median':>14} {'spread':>7}" for s in range(1, SETS + 1)) +
          "   verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        print(w)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r["result"]["metrics"][name]["value"] for r in results
                     if r["workload"] == w and r["set"] == s] for s in range(1, SETS + 1)]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            fails = [f"set{s} spread>bound" for s, sp in enumerate(spreads, 1)
                     if name != "setup_s" and sp > bound]
            worse = (meds[1] - meds[0]) / meds[0] if m["better"] == "lower" else (meds[0] - meds[1]) / meds[0]
            if worse > bound:
                fails.append(f"set2 median worse by {worse:.3f}")
            ok &= not fails
            print(f"  {name:<20} {m['unit']:<6} {bound:>6.2f}   " +
                  "   ".join(f"{md:>14.4f} {sp:>7.3f}" for md, sp in zip(meds, spreads)) +
                  "   " + (", ".join(fails) or "ok"))
        for r in results:
            if r["workload"] == w and (not r["result"]["correct"] or r["result"]["failed"]):
                print(f"  seed {r['seed']}: correct={r['result']['correct']} "
                      f"failed={r['result']['failed']}/{r['result']['attempted']}")
    return ok


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    results, seed = [], 1
    for s in range(1, SETS + 1):
        for i in range(RUNS):
            # rotate the workload order so slow drifts of the box spread
            # over every workload alike
            for w in names[i % len(names):] + names[:i % len(names)]:
                t0 = time.time()
                r = run_once(bench["command"], w, seed, bench["run_seconds"])
                results.append({"set": s, "workload": w, "seed": seed, "wall_s": time.time() - t0,
                                "result": r})
                print(f"set {s} run {i + 1} {w} seed {seed}: {time.time() - t0:.1f} s " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      file=sys.stderr)
                seed += 1
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", time.strftime("steady-%Y%m%d-%H%M%S.json"))
    with open(path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"raw results: {path}")
    sys.exit(0 if report(bench, results) else 1)


if __name__ == "__main__":
    main()
