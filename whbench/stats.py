"""Metric math shared by the runner and its tests."""
import math
import statistics


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them; a
    single sample is its own quartiles."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def failure_share(attempted, failed):
    if attempted < 1:
        raise ValueError("no attempted ops")
    return failed / attempted


def summary(xs, unit):
    """One metric's samples as reported on the detail line."""
    q1, q2, q3 = quartiles(xs)
    return {"value": q2, "unit": unit, "n": len(xs), "q1": q1, "q3": q3}


def timed(ops):
    """The ops that count as attempted: never the warm-up ones."""
    return [o for o in ops if not o.get("warmup")]


def errored(op):
    """An op that threw, or a pass with a query that threw: it has no
    complete timings."""
    return bool(op.get("error") or op.get("errors")) or op.get("build_s", 0) < 0


def measured(ops):
    """The timed ops whose timings are samples: never warm-up or errored ops."""
    return [o for o in timed(ops) if not errored(o)]
