#!/usr/bin/env python3
"""Steadiness check of the benchmark: runs `sets` independent sets of `runs`
invocations per workload of BENCHMARK.json on the current build, each with
its own seed, and reports per end-to-end metric and workload:

  * spread: (third quartile - first quartile) / median of each set, as
    `statistics.quantiles(values, n=4)` gives the quartiles;
  * drift: how much worse the last set's median is than the first's, as a
    share of the first;
  * whether both stay within the metric's bound (the spread of `setup_s` is
    reported but not held to its bound), and whether the spread is below a
    third of the bound, the margin the benchmark aims for.

    python3 perfbench/steady.py [--runs 10] [--sets 2]

It also times every invocation, prints the share of CPU time the hypervisor
took from this machine during it (steal, from /proc/stat, where there is
one), and estimates the wall time of the full schedule of
4 + 22 x (number of workloads) invocations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    """(steal, total) CPU jiffies of the machine, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return fields[7], sum(fields[:8])


def invoke(workload, seed, seconds):
    c0 = cpu_times()
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    c1 = cpu_times()
    steal = (c1[0] - c0[0]) / max(c1[1] - c0[1], 1) if c0 and c1 else float("nan")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), wall, steal


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser(description="steadiness check of BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]

    values = {(s, w): {m["name"]: [] for m in metrics} for s in range(a.sets) for w in workloads}
    walls = {w: [] for w in workloads}
    failures = 0
    for s in range(a.sets):
        for i in range(a.runs):
            for w in workloads:
                seed = 100 + 1000 * s + i
                out, wall, steal = invoke(w, seed, spec["run_seconds"])
                walls[w].append(wall)
                failures += out["failed"] + (not out["correct"])
                for m in metrics:
                    values[(s, w)][m["name"]].append(out["metrics"][m["name"]]["value"])
                print(f"set {s} run {i} {w} seed {seed}: wall {wall:.1f} s steal {steal:.1%} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                      flush=True)

    ok = True
    print()
    print(f"{'workload':16} {'metric':12} {'bound':>6} " + " ".join(
        f"{'median' + str(s):>10} {'spread' + str(s):>8}" for s in range(a.sets))
          + f" {'drift':>7}  verdict")
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = [values[(s, w)][name] for s in range(a.sets)]
            meds = [statistics.median(x) for x in sets]
            spreads = [spread(x) for x in sets]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (meds[-1] - meds[0]) / meds[0]
            spread_ok = name == "setup_s" or max(spreads) <= bound
            good = spread_ok and drift <= bound
            ok &= good
            tight = name == "setup_s" or max(spreads) < bound / 3
            verdict = ("ok" if good else "FAIL") + ("" if tight else " (spread above bound/3)")
            print(f"{w:16} {name:12} {bound:6.3f} " + " ".join(
                f"{md:10.4g} {sp:8.3f}" for md, sp in zip(meds, spreads))
                  + f" {drift:7.3f}  {verdict}")
    mean_wall = {w: statistics.mean(x) for w, x in walls.items()}
    schedule = (4 + 22 * len(workloads)) * statistics.mean(mean_wall.values())
    print()
    for w, x in mean_wall.items():
        print(f"wall per invocation, {w}: mean {x:.1f} s, max {max(walls[w]):.1f} s")
    print(f"estimated schedule of {4 + 22 * len(workloads)} invocations: {schedule:.0f} s; "
          f"operations failed: {failures}")
    print("STEADY" if ok and failures == 0 else "NOT STEADY")
    sys.exit(0 if ok and failures == 0 else 1)


if __name__ == "__main__":
    main()
