"""Statistics rules of the benchmark, kept in one place so the self-test
covers exactly what run.py and agree.py use."""
import math
import statistics


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(x for x in xs if x is not None)
    if not xs:
        return None
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest percentile with at least ten samples beyond it, or None
    when even the median has fewer than ten beyond it."""
    for p in candidates:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p
    return None


def timing(xs):
    """Summary of one timing: median, p95, the highest percentile that
    has ten samples beyond it, and the sample count."""
    xs = [x for x in xs if x is not None]
    tail = tail_percentile(len(xs))
    return {"n": len(xs), "p50": median(xs), "p95": percentile(xs, 95),
            "tail_p": tail,
            "tail": percentile(xs, tail) if tail else None}


def spread(values):
    """Inter-quartile distance as a share of the median, with the
    quartiles of statistics.quantiles(values, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def worse_by(first, second, better):
    """How much worse the second median is than the first, as a share of
    the first (negative when it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    if a == 0:
        return 0.0 if b == a else math.inf
    d = (b - a) / a
    return d if better == "lower" else -d


def agreement(first, second, spec):
    """Compare two sets of runs metric by metric against BENCHMARK.json's
    end_to_end bounds. `first`/`second` map metric -> list of values.
    Returns rows of (metric, spread1, spread2, worse, ok)."""
    rows = []
    for m in spec:
        name, bound = m["name"], m["bound"]
        a, b = first.get(name, []), second.get(name, [])
        if len(a) < 2 or len(b) < 2:
            rows.append((name, None, None, None, False))
            continue
        s1, s2 = spread(a), spread(b)
        w = worse_by(a, b, m["better"])
        rows.append((name, s1, s2, w, s1 <= bound and s2 <= bound and
                     w <= bound))
    return rows
