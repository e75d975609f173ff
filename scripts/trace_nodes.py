#!/usr/bin/env python3
"""Attribute a traced whbench wh_daily build's Spark jobs to its nodes.

Usage: python3 scripts/trace_nodes.py <trace.json>

`trace.json` is what `whbench/run.py --workload wh_daily --trace 1` writes
into its work dir. For every traced op, and for each node of that op's
`engine.build`, in build order, it prints:

- mat: the jobs in the node's `graft.<tag>.<model>` job group, and the sum
  of their wall times (submit to end);
- chk: the ungrouped jobs submitted after that group's first job and
  before the next node's group starts (the node's data checks), and the
  sum of their wall times;
- big: every job of either phase with at least 32 tasks, as
  `<phase>:<tasks>t/<wall ms>ms`.

`node_s` is the node's own elapsed time from the build report. An
ungrouped job submitted before the first group is shown as `(pre)`.
"""
import json
import sys

BIG_TASKS = 32


def build_spans(trace):
    """(op index, engine.build span) for every traced op without errors."""
    traced = {o["index"] for o in trace["ops"] if o.get("traced") and not o.get("errors")}
    return [(s["op"], s) for s in trace["spans"]
            if s["name"] == "engine.build" and s.get("op") in traced]


def attribute(jobs):
    """Ordered {node: {"mat": [jobs], "chk": [jobs]}} for one build's jobs."""
    nodes, cur = {}, "(pre)"
    for j in sorted(jobs, key=lambda j: (j["submit_ms"], j["id"])):
        g = j["group"] or ""
        if g.startswith("graft."):
            cur = g.split(".", 2)[2]
            nodes.setdefault(cur, {"mat": [], "chk": []})["mat"].append(j)
        else:
            nodes.setdefault(cur, {"mat": [], "chk": []})["chk"].append(j)
    return nodes


def wall(js):
    return sum(j["end_ms"] - j["submit_ms"] for j in js) / 1e3


def report(trace, out=sys.stdout):
    for idx, span in build_spans(trace):
        op = next(o for o in trace["ops"] if o["index"] == idx)
        info = {n["name"]: n for n in op.get("nodes", [])}
        jobs = [j for j in trace["jobs"]
                if span["start_ms"] - 1 <= j["submit_ms"] <= span["end_ms"] + 1]
        nodes = attribute(jobs)
        out.write(f"op {idx}: engine.build {(span['end_ms'] - span['start_ms']) / 1e3:.2f} s, "
                  f"{len(jobs)} jobs\n")
        out.write(f"{'node':34} {'kind':13} {'node_s':>7} {'mat_j':>5} {'mat_s':>6} "
                  f"{'chk_j':>5} {'chk_s':>6}  big\n")
        tot = [0, 0.0, 0, 0.0]
        for name, ph in nodes.items():
            n = info.get(name, {})
            node_s = f"{max(n['elapsed_ms'], 0) / 1e3:7.2f}" if n else f"{'':7}"
            big = " ".join(f"{p}:{j['tasks']}t/{j['end_ms'] - j['submit_ms']}ms"
                           for p in ("mat", "chk") for j in ph[p] if j["tasks"] >= BIG_TASKS)
            out.write(f"{name:34} {n.get('kind', ''):13} {node_s} {len(ph['mat']):5} "
                      f"{wall(ph['mat']):6.2f} {len(ph['chk']):5} {wall(ph['chk']):6.2f}  {big}\n")
            tot = [tot[0] + len(ph["mat"]), tot[1] + wall(ph["mat"]),
                   tot[2] + len(ph["chk"]), tot[3] + wall(ph["chk"])]
        out.write(f"{'total':34} {'':13} {'':7} {tot[0]:5} {tot[1]:6.2f} {tot[2]:5} "
                  f"{tot[3]:6.2f}\n\n")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        report(json.load(f))
