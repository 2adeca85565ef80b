#!/usr/bin/env python3
"""Per-step table of a traced agent_authoring run.

Usage: scripts/agent_steps.py SPANS.jsonl [--flows DIR]

SPANS.jsonl is the spans file a traced agent_authoring run writes,
`.bench_build/perfbench/traces/agent_authoring-<seed>.jsonl`. The replay runs
the flows of `--flows` (default `perfbench/flows`) in the order
`enriched_output_def`, `summary_output_def`, one operation per `agent.step`
span; an `agent.reject` span is a designed-invalid attempt made before the
step that follows it. Prints one markdown table per traced run in the file,
with one row per step (flow, step number, op type, step/try/sample ms) and
one row per reject. Times are span durations in ms: a step's time includes
its try and its sample. Both inputs are only read.
"""
import argparse
import json
import os
import sys

import yaml

FLOWS = ("enriched_output_def", "summary_output_def")


def ops(flows_dir):
    """[(flow, step number, op type)] in replay order."""
    out = []
    for flow in FLOWS:
        with open(os.path.join(flows_dir, flow + ".yaml")) as f:
            steps = yaml.safe_load(f)["operations"]
        out += [(flow, i + 1, op["operation_type"]) for i, op in enumerate(steps)]
    return out


def table(spans, plan):
    """Markdown rows for one run's spans, steps matched to `plan` in order."""
    ms = {s["id"]: s["end_ms"] - s["start_ms"] for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], {})[s["name"]] = ms[s["id"]]
    top = sorted((s for s in spans if s["name"] in ("agent.step", "agent.reject")),
                 key=lambda s: s["start_ms"])
    steps = [s for s in top if s["name"] == "agent.step"]
    if len(steps) > len(plan):
        sys.exit(f"{len(steps)} agent.step spans but {len(plan)} flow operations")
    lines = ["| flow | step | op | step ms | try ms | sample ms |", "|---|---:|---|---:|---:|---:|"]
    done = 0
    for s in top:
        flow, n, op = plan[min(done, len(plan) - 1)]
        if s["name"] == "agent.reject":
            lines.append(f"| {flow} | | reject | {ms[s['id']]:.1f} | | |")
            continue
        kids = children.get(s["id"], {})
        lines.append(f"| {flow} | {n} | {op} | {ms[s['id']]:.0f} | "
                     f"{kids.get('agent.try', 0.0):.0f} | {kids.get('agent.sample', 0.0):.0f} |")
        done += 1
    lines.append(f"\n{done} of {len(plan)} steps, {sum(ms[s['id']] for s in steps):.0f} ms in steps")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--flows", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                    "..", "perfbench", "flows"))
    args = ap.parse_args()
    plan = ops(args.flows)
    with open(args.spans) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    for run in sorted({s["run"] for s in spans}):
        print(f"run {run}\n")
        print("\n".join(table([s for s in spans if s["run"] == run], plan)))


if __name__ == "__main__":
    main()
