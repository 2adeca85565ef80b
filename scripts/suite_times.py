#!/usr/bin/env python3
"""Per-suite timing table from a Tier-1 `sbt testOnly` log.

Usage: scripts/suite_times.py TIER1.log [--top N]
       scripts/suite_times.py TIER1.log --tests

build.sbt passes ScalaTest `-oD`, so every test line ends with its duration,
e.g. `[info] - name (1 second, 855 milliseconds)`. A suite's time here is the
sum of its tests' durations: suite set-up outside a test (session start,
`lazy val` fixtures first touched by a test count in that test) is not
reported by ScalaTest's stdout reporter. Prints a markdown table, slowest
suite first, with each suite's share of the summed time.

`--tests` prints one sorted `<status> <test name>` line per test instead
(status `passed`, `FAILED` or `CANCELED`), with no suite name, so a diff of
two logs' outputs shows the tests that were added, removed or changed state,
and not the tests that only moved to another suite.
"""
import argparse
import re
import sys

SUITE = re.compile(r"^\[info\] ([A-Za-z_][\w$]*):\s*$")
TEST = re.compile(r"^\[info\] - (.*) \(((?:\d+ (?:hour|minute|second|millisecond)s?(?:, )?)+)\)\s*$")
STATUS = re.compile(r" (\*\*\* FAILED \*\*\*|!!! CANCELED !!!)$")
PART = re.compile(r"(\d+) (hour|minute|second|millisecond)")
SECONDS = {"hour": 3600.0, "minute": 60.0, "second": 1.0, "millisecond": 0.001}


def parse(lines):
    """[(suite, tests, seconds, failed)] in log order, and [(status, test name)]."""
    suites, tests, current = [], [], None
    for line in lines:
        m = SUITE.match(line)
        if m:
            current = [m.group(1), 0, 0.0, 0]
            suites.append(current)
            continue
        m = TEST.match(line)
        if m and current is not None:
            name, status = m.group(1), "passed"
            s = STATUS.search(name)
            if s:
                name, status = name[:s.start()], s.group(1).strip("*! ").split()[0]
            tests.append((status, name))
            current[1] += 1
            current[2] += sum(int(n) * SECONDS[u] for n, u in PART.findall(m.group(2)))
            current[3] += status == "FAILED"
    return suites, tests


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log", help="Tier-1 sbt log (ScalaTest run with -oD)")
    ap.add_argument("--top", type=int, default=0, help="rows to print (default: all)")
    ap.add_argument("--tests", action="store_true",
                    help="print one sorted '<status> <test name>' line per test")
    args = ap.parse_args()
    with open(args.log, encoding="utf-8", errors="replace") as f:
        suites, tests = parse(f)
    if not suites:
        sys.exit("no suite with timed tests found: was the log written with -oD?")
    if args.tests:
        for status, name in sorted(tests):
            print(status, name)
        return
    total = sum(s[2] for s in suites)
    suites.sort(key=lambda s: -s[2])
    rows = suites[:args.top] if args.top else suites
    print("| suite | tests | failed | seconds | share |")
    print("|---|---:|---:|---:|---:|")
    for name, tests, secs, failed in rows:
        print(f"| {name} | {tests} | {failed} | {secs:.1f} | {100 * secs / total:.1f}% |")
    print(f"| **all {len(suites)} suites** | {sum(s[1] for s in suites)} | "
          f"{sum(s[3] for s in suites)} | {total:.1f} | 100% |")


if __name__ == "__main__":
    main()
