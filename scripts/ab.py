#!/usr/bin/env python3
"""Alternated A/B of the benchmark between two checkouts.

    python3 scripts/ab.py <parent-dir> <change-dir> --workload W --seed S --pairs N [--trace 0]

Each pair runs `python3 perfbench/run.py` once in each checkout, from that
checkout's root, for the `run_seconds` of the change's BENCHMARK.json; even
pairs run the parent first, odd pairs the change.
Every `[perfbench] <metric> = <value>` line (and `[perfbench] layer ...`
with --trace 1) is collected, and one markdown row is printed per metric:
the pair count, each side's median with Q1-Q3, change/parent of the
medians, and the pairs the change wins. A win is a lower value, or a
higher one for a metric the change's BENCHMARK.json marks
`"better": "higher"`. A pair counts for a metric only where both runs
printed it. A run that exits non-zero is reported and its pair skipped.
Nothing is written; each checkout's run.py writes under its own
`.bench_build/`. The generated inputs it caches there name their files by
absolute path, so a checkout copied with its `.bench_build/` would read
the other checkout's files; before the first pair, a cached config whose
input path lies outside its checkout stops the run with the directory to
delete.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

LINE = re.compile(r"^\[perfbench\] (?:layer )?(\S+) = (-?[0-9.eE+-]+|nan|inf)\b")
PATH = re.compile(r"^\s*path:\s*['\"]?([^'\"\s]+)")


def inputs_dir(checkout):
    return os.path.join(os.path.realpath(checkout), ".bench_build", "perfbench", "inputs")


def foreign_inputs(checkout):
    """(config, path) for each cached input path outside the checkout; an
    output path still holds run.py's `{out}` placeholder and is skipped."""
    root = os.path.realpath(checkout)
    found = []
    for d, _, files in os.walk(inputs_dir(checkout)):
        if "config.yaml" not in files:
            continue
        cfg = os.path.join(d, "config.yaml")
        with open(cfg) as f:
            for line in f:
                m = PATH.match(line)
                if m and "{" not in m.group(1):
                    p = os.path.realpath(os.path.join(root, m.group(1)))
                    if os.path.commonpath([p, root]) != root:
                        found.append((cfg, m.group(1)))
    return found


def run(checkout, args, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(args.trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    metrics = {}
    for line in r.stdout.splitlines():
        m = LINE.match(line)
        if m:
            metrics[m.group(1)] = float(m.group(2))
    if r.returncode != 0:
        tail = "\n".join(r.stdout.splitlines()[-5:])
        print(f"[ab] {checkout}: exit {r.returncode}\n{tail}", file=sys.stderr)
        return None
    return metrics


def quartiles(xs):
    """Median, Q1 and Q3 by linear interpolation between order statistics."""
    s = sorted(xs)

    def at(p):
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)
    return at(0.5), at(0.25), at(0.75)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    higher = {m["name"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])
              if m.get("better") == "higher"}

    for side in ("parent", "change"):
        checkout = getattr(args, side)
        foreign = foreign_inputs(checkout)
        if foreign:
            cfg, path = foreign[0]
            sys.exit(f"[ab] {cfg} reads {path}, outside the {side} checkout {checkout}; "
                     f"delete {inputs_dir(checkout)} and run again")

    pairs = []
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {side: run(getattr(args, side), args, bench["run_seconds"]) for side in order}
        if None in got.values():
            continue
        pairs.append(got)
        print(f"[ab] pair {i + 1}/{args.pairs} ({order[0]} first): run_s parent "
              f"{got['parent'].get('run_s')} change {got['change'].get('run_s')}", file=sys.stderr)

    names = sorted({k for p in pairs for k in p["parent"]} & {k for p in pairs for k in p["change"]})
    print(f"workload {args.workload}, seed {args.seed}, {len(pairs)} of {args.pairs} pairs complete")
    print("| metric | pairs | parent median [Q1–Q3] | change median [Q1–Q3] | change/parent | change wins |")
    print("|---|---|---|---|---|---|")
    for name in names:
        both = [(p["parent"][name], p["change"][name]) for p in pairs
                if name in p["parent"] and name in p["change"]]
        a = quartiles([x for x, _ in both])
        b = quartiles([y for _, y in both])
        wins = sum((y > x) if name in higher else (y < x) for x, y in both)
        ratio = f"{b[0] / a[0]:.3f}" if a[0] else "n/a"
        print(f"| {name} | {len(both)} | {a[0]:.4g} [{a[1]:.4g}–{a[2]:.4g}] | "
              f"{b[0]:.4g} [{b[1]:.4g}–{b[2]:.4g}] | {ratio} | {wins}/{len(both)} |")


if __name__ == "__main__":
    main()
