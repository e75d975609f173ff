"""Per-layer metrics of a traced run, from its spans and job records.

Only traced ops without an error count (a traced run traces the second,
fourth, ... timed op). Each Spark job is attributed to the deepest span
whose interval holds its submission time; inside `engine.build`, the
engine's own `graft.<tag>.<model>` job groups name the node whose
materialization ran the job, and ungrouped jobs are the check phase. Every metric is a median over traced ops, except
`jvm.heap_peak_mb` (run maximum) and `host.control_s` (median of the
control samples). A layer a workload does not exercise reports 0.
"""
import stats

MODELS = [
    "stg_accounts", "stg_subscriptions", "stg_support_tickets", "int_accounts_current",
    "int_subscriptions_current", "int_subscriptions_current_merged", "snap_accounts",
    "snap_subscriptions", "dim_date", "dim_account", "dim_subscription",
    "fct_subscription_month", "int_account_monthly_mrr", "fct_account_month",
    "mart_mrr_waterfall_month"]
KINDS = ["append", "view", "merge_upsert", "scd2", "delete_insert", "bucketed", "table"]
# board query modules; Finance is measured by wh_daily
MODULES = ["Relational", "Window", "Date", "Text", "Dedup", "Similarity", "Multimodal",
           "Streaming", "SqlSurface", "OlapExtras", "Pipeline"]
SPARK = [("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
         ("busy_frac", "ratio"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
         ("input_bytes", "bytes"), ("output_bytes", "bytes")]


def names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"spark.{n}", u) for n, u in SPARK]
    out += [("ingest.s", "s"), ("ingest.jobs", "count"),
            ("engine.build_s", "s"), ("engine.driver_s", "s"),
            ("engine.check.s", "s"), ("engine.check.jobs", "count")]
    for k in KINDS:
        out += [(f"mat.{k}.s", "s"), (f"mat.{k}.jobs", "count"),
                (f"mat.{k}.shuffle_bytes", "bytes")]
    out += [("engine.files_written", "count"), ("engine.write_amp", "ratio"),
            ("engine.space_amp", "ratio"), ("engine.max_files_per_partition", "count")]
    out += [(f"node.{m}.s", "s") for m in MODELS]
    out += [("read.s", "s"), ("read.jobs", "count"), ("read.input_bytes", "bytes")]
    for m in MODULES:
        out += [(f"q.{m}.s", "s"), (f"q.{m}.build_s", "s"), (f"q.{m}.jobs", "count"),
                (f"q.{m}.shuffle_bytes", "bytes")]
    out += [("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("host.control_s", "s"),
            ("trace.overhead_frac", "ratio")]
    return out


def attribute(spans, jobs):
    """Map job id -> innermost span holding its submission time."""
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]
    order = sorted(spans, key=lambda s: (s["start_ms"], d(s)))
    out = {}
    for j in jobs:
        t = j["submit_ms"]
        best = None
        for s in order:
            if s["start_ms"] > t + 1:
                break
            if s["start_ms"] <= t + 1 and t <= s["end_ms"] + 1:
                if best is None or (d(s), s["start_ms"]) >= (d(best), best["start_ms"]):
                    best = s
        out[j["id"]] = best
    return out


def self_times(spans):
    """Span duration minus the part of it its children cover, in ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover, end = 0.0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                cover += hi - lo
                end = hi
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - cover
    return out


def _ancestors(span, by_id):
    while span is not None:
        yield span
        span = by_id.get(span["parent"])


def _sum(jobs, key):
    return sum(j[key] for j in jobs)


def per_op(res, cores):
    """Per-layer values of each traced timed op."""
    spans, jobs = res["spans"], res["jobs"]
    by_id = {s["id"]: s for s in spans}
    where = attribute(spans, jobs)
    ops = [o for o in stats.measured(res["ops"]) if o["traced"]]
    rows = []
    for op in ops:
        idx = op["index"]

        def in_op(j):
            s = where[j["id"]]
            return s is not None and any(a.get("op") == idx and a["name"].startswith("op.")
                                         for a in _ancestors(s, by_id))

        def under(j, name):
            return any(a["name"] == name for a in _ancestors(where[j["id"]], by_id))

        oj = [j for j in jobs if in_op(j)]
        v = {n: 0.0 for n, _ in names()}
        wall = op["pass_s"] if "pass_s" in op else op["build_s"] + sum(op["read_s"])
        task_s = _sum(oj, "task_ms") / 1e3
        v.update({"spark.jobs": len(oj), "spark.stages": _sum(oj, "stages"),
                  "spark.tasks": _sum(oj, "tasks"), "spark.task_s": task_s,
                  "spark.busy_frac": task_s / (cores * wall),
                  "spark.shuffle_write_bytes": _sum(oj, "shuffle_write_bytes"),
                  "spark.spill_bytes": _sum(oj, "spill_bytes"),
                  "spark.input_bytes": _sum(oj, "input_bytes"),
                  "spark.output_bytes": _sum(oj, "output_bytes"),
                  "jvm.gc_s": op["gc_s"]})
        op_spans = [s for s in spans if s.get("op") == idx]

        def dur(name):
            return sum(s["end_ms"] - s["start_ms"] for s in op_spans if s["name"] == name) / 1e3
        if "nodes" in op:
            nodes = {n["name"]: n for n in op["nodes"]}
            bj = [j for j in oj if under(j, "engine.build")]
            grouped = [j for j in bj if (j["group"] or "").startswith("graft.")]
            checks = [j for j in bj if not (j["group"] or "").startswith("graft.")]
            build_s = dur("engine.build")
            lj = [j for j in oj if under(j, "land")]
            v.update({"ingest.s": dur("land"), "ingest.jobs": len(lj),
                      "engine.build_s": build_s,
                      "engine.driver_s": build_s - sum(max(n["elapsed_ms"], 0)
                                                       for n in nodes.values()) / 1e3,
                      "engine.check.s": sum(j["end_ms"] - j["submit_ms"] for j in checks) / 1e3,
                      "engine.check.jobs": len(checks)})
            for n in nodes.values():
                if n["name"] in MODELS:
                    v[f"node.{n['name']}.s"] = max(n["elapsed_ms"], 0) / 1e3
                v[f"mat.{n['kind']}.s"] += max(n["elapsed_ms"], 0) / 1e3
            for j in grouped:
                model = j["group"].split(".", 2)[2]
                if model in nodes:
                    k = nodes[model]["kind"]
                    v[f"mat.{k}.jobs"] += 1
                    v[f"mat.{k}.shuffle_bytes"] += j["shuffle_write_bytes"]
            csv = op["batch_csv_bytes"]
            v.update({"engine.files_written": op["files_written"],
                      "engine.write_amp": _sum(bj, "output_bytes") / csv,
                      "engine.space_amp": op["warehouse_bytes"] / csv,
                      "engine.max_files_per_partition":
                          max(n["max_files_per_partition"] for n in nodes.values())})
            # per dashboard load
            rj = [j for j in oj if under(j, "op.read")]
            loads = len(op["read_s"])
            v.update({"read.s": stats.median(op["read_s"]), "read.jobs": len(rj) / loads,
                      "read.input_bytes": _sum(rj, "input_bytes") / loads})
        if "queries" in op:
            qspans = [s for s in spans if s["name"] in ("q.build", "q.action")
                      and any(a.get("op") == idx for a in _ancestors(s, by_id))]
            for s in qspans:
                m = s["module"]
                v[f"q.{m}.s"] += (s["end_ms"] - s["start_ms"]) / 1e3
                if s["name"] == "q.build":
                    v[f"q.{m}.build_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
            for j in oj:
                q = next((a for a in _ancestors(where[j["id"]], by_id)
                          if a["name"] in ("q.build", "q.action")), None)
                if q is not None:
                    v[f"q.{q['module']}.jobs"] += 1
                    v[f"q.{q['module']}.shuffle_bytes"] += j["shuffle_write_bytes"]
        rows.append(v)
    return rows


def op_seconds(op):
    """One op end to end: a board pass, or a build plus its first dashboard load."""
    return op["pass_s"] if "pass_s" in op else op["build_s"] + op["read_s"][0]


def overhead_frac(res):
    """Median traced op time over median untraced op time, minus 1, or None
    when either side has no sample. The first timed op is left out of both
    sides: it still carries JIT warm-up, and it is never traced."""
    later = [o for o in stats.timed(res["ops"])[1:] if not stats.errored(o)]
    on = [op_seconds(o) for o in later if o["traced"]]
    off = [op_seconds(o) for o in later if not o["traced"]]
    if not on or not off:
        return None, 0
    return stats.median(on) / stats.median(off) - 1, len(on) + len(off)


def per_layer(res, cores):
    """(metrics, trace document) for a traced run. With no traced op free
    of errors, only the run-wide metrics are reported."""
    rows = per_op(res, cores)
    units = dict(names())
    metrics = {}
    if rows:
        for n, u in names():
            metrics[n] = stats.summary([r[n] for r in rows], u)
        metrics["jvm.heap_peak_mb"] = dict(metrics["jvm.heap_peak_mb"],
                                           value=res["heap_peak_mb"])
    metrics["host.control_s"] = stats.summary(res["control_s"], units["host.control_s"])
    over, n = overhead_frac(res)
    if over is None:
        metrics.pop("trace.overhead_frac", None)
    else:
        metrics["trace.overhead_frac"] = dict(stats.summary([over], "ratio"), n=n)
    selfs = self_times(res["spans"])
    trace = {"spans": [dict(s, self_ms=selfs[s["id"]]) for s in res["spans"]],
             "jobs": res["jobs"], "ops": res["ops"]}
    return metrics, trace
