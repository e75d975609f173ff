#!/usr/bin/env python3
"""Fixed-work benchmark of the Spark finance warehouse engine.

    python3 whbench/run.py --workload wh_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine sources
and the benchmark's JVM side (whbench/src) into .bench_build/whbench;
inputs, the Spark work directory and the trace land in
.bench_work/<workload>. The last stdout line is the result object; the
line before it carries every metric's sample count and quartiles plus the
host control samples.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

# Nominal seconds per timed op. Timed ops = max(1, int(seconds / OP_S)), so
# the op sequence depends on the seed and the run length argument only. A
# traced run times at least three ops: it traces the second, fourth, ... and
# compares them with the third, fifth, ..., leaving out the first, which
# still carries JIT warm-up. Three timed days keep a traced wh_daily run
# near 120 s, under the 180 s a run may take, with room for a slower host.
OP_S = 20.0
# Per-workload fixed work. `warmup` counts warm-up ops after the bootstrap
# build; `reads` is the number of dashboard loads after each build.
WORKLOADS = {
    # daily cycle on a small book: the bootstrap build is the warm-up op
    "wh_daily": {"warmup": 0, "reads": 5, "accounts": 1000},
    # passes over the board subset on sf0.1-shaped tables
    "board": {"warmup": 1, "sf": 0.1},
}
# JVM start, input landing and warm-up, plus three nominal op times per op
JVM_SETUP_ALLOWANCE_S = 120
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"whbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The jars directory build.sbt compiles the engine against (its
    `unmanagedBase`), as a classpath wildcard."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        fail("build.sbt names no unmanagedBase jars directory")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars}")
    return os.path.join(jars, "*")


def build(root):
    """Compile the engine and the JVM side once per source state."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no engine sources under src/main/scala: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    jars = spark_jars(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "whbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    t = time.time()
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", jars] + srcs,
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"whbench: compiled {len(srcs)} files in {time.time() - t:.1f}s", file=sys.stderr)
    return classes


def n_ops(seconds, trace):
    return max(3 if trace else 1, int(seconds / OP_S))


def jvm_timeout(ops):
    return JVM_SETUP_ALLOWANCE_S + 3 * ops * OP_S


def generate(workload, spec, seed, data, ops, self_test):
    """Write the run's inputs; returns the ledgers keyed by batch name."""
    ledgers = {}
    if workload == "board":
        tables = os.path.join(data, "tables")
        gen.write_board(seed, tables, spec["sf"])
        if self_test:
            # the oracle keeps the generated tables, Spark reads a copy
            # with one lineitem quantity changed
            shutil.copytree(tables, os.path.join(data, "oracle_tables"))
            gen.perturb_board(tables)
        return ledgers
    book = gen.Book(seed, spec["accounts"])
    dates = gen.daily_dates(spec["warmup"] + ops)
    for i, d in enumerate(dates):
        name = f"b_{d.isoformat()}"
        # the self-test perturbs the last batch; it is always timed
        ledgers[name] = gen.write_batch(book, d, os.path.join(data, "batches", name),
                                        perturb=self_test and i == len(dates) - 1)
    return ledgers


def run_jvm(root, classes, args, workload, data, work, spec, ops):
    jars = spark_jars(root)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "whbench.Main", workload, data, work,
              str(args.cores), str(args.shuffle_partitions), str(spec["warmup"]), str(ops),
              str(args.trace)] + ([str(spec["reads"])] if "reads" in spec else []))
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=jvm_timeout(ops))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"benchmark JVM exceeded {jvm_timeout(ops)}s; see {log.name}")
    finally:
        log.close()
    if rc != 0:
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def close(a, b, rel=1e-9, abs_=1e-6):
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def check_waterfall(rows, led):
    """Mismatches between the mart rows and the generator's ledger."""
    bad = []
    if len(rows) != len(led["month"]):
        return [f"{len(rows)} mart rows, ledger has {len(led['month'])}"]
    for i, r in enumerate(rows):
        month, begin, end, active, churned, new, react = r
        want = (led["month"][i], led["begin_mrr"][i], led["end_mrr"][i],
                led["active_accounts"][i], led["churned_accounts"][i],
                led["new_accounts"][i], led["reactivated_accounts"][i])
        if (month != want[0] or not close(begin, want[1]) or not close(end, want[2])
                or [active, churned, new, react] != list(want[3:])):
            bad.append(f"{month}: mart {r[1:]} ledger {want[1:]}")
    return bad


def check_warehouse(res, ledgers):
    problems = {}
    for op in res["ops"]:
        p = []
        if op.get("error"):
            p.append(op["error"])
        if not op.get("build_ok"):
            failed = [n for n in op.get("nodes", []) if n["status"] != "ok"]
            p.append(f"build not ok: {failed[:3]}")
        led = ledgers[op["batch"]]
        if "waterfall" in op:
            p += check_waterfall(op["waterfall"], led)[:3]
            if not close(op["dec_mrr_by_industry"], led["end_mrr"][-1]):
                p.append(f"Dec MRR by industry {op['dec_mrr_by_industry']} "
                         f"!= ledger {led['end_mrr'][-1]}")
        if p:
            problems[op["index"]] = p
    return problems


def check_board(res, data, work, cores):
    """Compare every timed pass's output of each query with the query's
    oracle run by DuckDB over the same generated tables. Returns
    {query: problem} and the set of timed pass indices with a problem."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    tables = os.path.join(data, "oracle_tables")
    if not os.path.isdir(tables):
        tables = os.path.join(data, "tables")
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad, bad_passes = {}, set()
    for q, meta in res["queries"].items():
        exp = None
        if meta["oracle"] is not None:
            try:
                exp = con.execute(meta["oracle"]).df()
            except Exception as e:  # an oracle that cannot run is a failed gate
                bad[q] = f"oracle error {e}"
        for op in stats.timed(res["ops"]):
            out = os.path.join(work, "out", f"p{op['index']}", q)
            if not os.path.isdir(out):
                msg = "no output"
            elif exp is None:
                msg = None if meta["oracle"] is not None or len(pd.read_parquet(out)) else \
                    "empty result"
            else:
                msg = compare_frames(pd.read_parquet(out), exp)
            if msg or q in bad:
                bad.setdefault(q, msg)
                bad_passes.add(op["index"])
    return bad, bad_passes


def compare_frames(got, exp):
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True) \
            if len(df) else df
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)}"
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = ((a.astype(float) - b.astype(float)).abs() <= 1e-9 * (1 + b.astype(float).abs())) \
                | (a.isna() & b.isna())
        else:
            eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
        if not eq.all():
            return f"column {c}: {int((~eq).sum())} values differ"
    return None


def end_to_end(res, gen_s):
    """Every end-to-end metric over the measured ops; only `setup_s` when
    no timed op ran without an error."""
    setup = {"setup_s": stats.summary([gen_s + res["jvm_setup_s"]], "s")}
    ops = stats.measured(res["ops"])
    if not ops:
        return setup
    if res["workload"] == "board":
        builds = [sum(q["build_s"] for q in o["queries"].values()) for o in ops]
        reads = [sum(q["action_s"] for q in o["queries"].values()) for o in ops]
        whole = [o["pass_s"] for o in ops]
        items = {q: [o["queries"][q]["build_s"] + o["queries"][q]["action_s"] for o in ops]
                 for q in ops[0]["queries"]}
    else:
        builds = [o["build_s"] for o in ops]
        # the first load after a build is part of the op; the later loads
        # are dashboard reloads, all of one kind
        reads = [r for o in ops for r in o["read_s"][1:]]
        whole = [layers.op_seconds(o) for o in ops]
        items = {t: [x for o in ops for x in o["tiles"][t][1:]] for t in ops[0]["tiles"]}
    per_item = [stats.median(v) for v in items.values()]
    return dict(setup, **{
        "build_p50_s": stats.summary(builds, "s"),
        "read_p50_s": stats.summary(reads, "s"),
        "op_p50_s": stats.summary(whole, "s"),
        "query_geomean_s": dict(stats.summary(per_item, "s"), value=stats.geomean(per_item)),
        "live_heap_mb": dict(stats.summary([o["live_heap_mb"] for o in ops], "MB"),
                             value=max(o["live_heap_mb"] for o in ops)),
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="1g")
    ap.add_argument("--shuffle-partitions", type=int, default=4)
    ap.add_argument("--work", default=".bench_work",
                    help="work filesystem directory, relative to the repository root")
    ap.add_argument("--self-test", action="store_true",
                    help="perturb one generated value; the correctness gate must fire")
    args = ap.parse_args()
    root = os.getcwd()
    args.cores = max(1, min(args.cores, os.cpu_count() or 1))
    classes = build(root)

    spec = WORKLOADS[args.workload]
    ops = n_ops(args.seconds, args.trace)
    work = os.path.join(root, args.work, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    t = time.time()
    ledgers = generate(args.workload, spec, args.seed, data, ops, args.self_test)
    gen_s = time.time() - t
    t = time.time()
    res = run_jvm(root, classes, args, args.workload, data, work, spec, ops)
    jvm_s = time.time() - t
    t = time.time()

    timed = stats.timed(res["ops"])
    if args.workload == "board":
        bad, bad_passes = check_board(res, data, work, args.cores)
        errs = {o["index"]: o["errors"] for o in res["ops"] if o["errors"]}
        problems = dict({"oracle": bad} if bad else {}, **{str(k): v for k, v in errs.items()})
        failed = sum(1 for o in timed if o["index"] in bad_passes or o["errors"])
    else:
        problems = check_warehouse(res, ledgers)
        failed = sum(1 for o in timed if o["index"] in problems)

    detail = {"workload": args.workload, "seed": args.seed, "timed_ops": len(timed),
              "measured_ops": len(stats.measured(res["ops"])),
              "warmup_ops": len(res["ops"]) - len(timed), "cores": res["cores"],
              "shuffle_partitions": res["shuffle_partitions"], "heap_max_mb": res["heap_max_mb"],
              "gen_s": gen_s, "jvm_s": jvm_s, "check_s": time.time() - t,
              "host.control_s": res["control_s"],
              "failure_share": stats.failure_share(len(timed), failed)}
    if problems:
        detail["problems"] = {str(k): v for k, v in problems.items()}
    if args.trace:
        metrics, trace = layers.per_layer(res, args.cores)
        trace_path = os.path.join(work, "trace.json")
        with open(trace_path, "w") as f:
            json.dump(dict(trace, metrics=metrics), f)
        detail["trace"] = os.path.relpath(trace_path, root)
    else:
        metrics = end_to_end(res, gen_s)
    detail["metrics"] = metrics
    print(json.dumps(detail))
    print(json.dumps({"correct": not problems, "attempted": len(timed), "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
