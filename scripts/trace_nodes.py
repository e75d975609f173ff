#!/usr/bin/env python3
"""Attribute a traced whbench wh_daily build's Spark jobs to its nodes.

Usage: python3 scripts/trace_nodes.py <trace.json>

`trace.json` is what `whbench/run.py --workload wh_daily --trace 1` writes
into its work dir. For every traced op, and for each node of that op's
`engine.build`, in build order, it prints:

- mat: the jobs in the node's `graft.<tag>.<model>` job group, and the sum
  of their wall times (submit to end);
- chk: the jobs in the node's `graft-check.<tag>.<model>` job group (its
  data checks), and the sum of their wall times;
- start / end: the first job's submit and the last job's end, in seconds
  from the start of the build. Nodes run concurrently, so these windows
  overlap; the chain of nodes whose windows abut is the critical path;
- big: every job of either phase with at least 32 tasks, as
  `<phase>:<tasks>t/<wall ms>ms`.

`node_s` is the node's own elapsed time from the build report; it starts
before the node's first job (planning, unit tests, hooks). Jobs in no
engine group are shown as `(ungrouped)`. A trace of an engine without
check groups ran its nodes one at a time and left its check jobs
ungrouped; there, an ungrouped job counts as a check of the node whose
group last started before it.
"""
import json
import sys

BIG_TASKS = 32
PHASES = {"graft.": "mat", "graft-check.": "chk"}


def build_spans(trace):
    """(op index, engine.build span) for every traced op without errors."""
    traced = {o["index"] for o in trace["ops"] if o.get("traced") and not o.get("errors")}
    return [(s["op"], s) for s in trace["spans"]
            if s["name"] == "engine.build" and s.get("op") in traced]


def attribute(jobs):
    """{node: {"mat": [jobs], "chk": [jobs]}} for one build's jobs, by job group."""
    jobs = sorted(jobs, key=lambda j: (j["submit_ms"], j["id"]))
    serial = not any((j["group"] or "").startswith("graft-check.") for j in jobs)
    nodes, cur = {}, "(ungrouped)"
    for j in jobs:
        g = j["group"] or ""
        phase = next((p for pre, p in PHASES.items() if g.startswith(pre)), None)
        if phase:
            node = g.split(".", 2)[2]
            if phase == "mat":
                cur = node
        else:
            node, phase = (cur, "chk") if serial else ("(ungrouped)", "chk")
        nodes.setdefault(node, {"mat": [], "chk": []})[phase].append(j)
    return nodes


def wall(js):
    return sum(j["end_ms"] - j["submit_ms"] for j in js) / 1e3


def report(trace, out=sys.stdout):
    for idx, span in build_spans(trace):
        op = next(o for o in trace["ops"] if o["index"] == idx)
        info = {n["name"]: n for n in op.get("nodes", [])}
        t0 = span["start_ms"]
        jobs = [j for j in trace["jobs"] if t0 - 1 <= j["submit_ms"] <= span["end_ms"] + 1]
        nodes = attribute(jobs)
        build_s = (span["end_ms"] - t0) / 1e3
        node_sum = sum(max(n["elapsed_ms"], 0) for n in info.values()) / 1e3
        out.write(f"op {idx}: engine.build {build_s:.2f} s, {len(jobs)} jobs, "
                  f"node_s sum {node_sum:.2f} s\n")
        out.write(f"{'node':34} {'kind':13} {'node_s':>7} {'start':>6} {'end':>6} "
                  f"{'mat_j':>5} {'mat_s':>6} {'chk_j':>5} {'chk_s':>6}  big\n")
        tot = [0, 0.0, 0, 0.0]
        for name in list(info) + [n for n in nodes if n not in info]:
            ph = nodes.get(name, {"mat": [], "chk": []})
            js = ph["mat"] + ph["chk"]
            n = info.get(name, {})
            node_s = f"{max(n['elapsed_ms'], 0) / 1e3:7.2f}" if n else f"{'':7}"
            span_s = (f"{(min(j['submit_ms'] for j in js) - t0) / 1e3:6.2f} "
                      f"{(max(j['end_ms'] for j in js) - t0) / 1e3:6.2f}") if js else f"{'':13}"
            big = " ".join(f"{p}:{j['tasks']}t/{j['end_ms'] - j['submit_ms']}ms"
                           for p in ("mat", "chk") for j in ph[p] if j["tasks"] >= BIG_TASKS)
            out.write(f"{name:34} {n.get('kind', ''):13} {node_s} {span_s} {len(ph['mat']):5} "
                      f"{wall(ph['mat']):6.2f} {len(ph['chk']):5} {wall(ph['chk']):6.2f}  {big}\n")
            tot = [tot[0] + len(ph["mat"]), tot[1] + wall(ph["mat"]),
                   tot[2] + len(ph["chk"]), tot[3] + wall(ph["chk"])]
        out.write(f"{'total':34} {'':13} {'':7} {'':13} {tot[0]:5} {tot[1]:6.2f} {tot[2]:5} "
                  f"{tot[3]:6.2f}\n\n")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        report(json.load(f))
