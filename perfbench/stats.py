"""Pure helpers of the benchmark: percentiles, backlog slope, the
sustained-rung rule and span self times. No I/O; test_perfbench.py
covers them."""
import math


def percentile(xs, p):
    """p-th percentile (0..100) with linear interpolation between the
    closest ranks, as numpy's default does."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-th percentile (0..100): a weighted
    average of all order statistics, with Beta(p(n+1), (1-p)(n+1))
    weights. At a few dozen samples it varies less between runs than the
    single order statistic `percentile` picks; at thousands the two agree.
    """
    n = len(xs)
    if n == 0:
        return float("nan")
    if n == 1:
        return float(xs[0])
    q = p / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    s = sorted(xs)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), as in Numerical Recipes' betai."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbt = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
           + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lbt) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lbt) * _betacf(b, a, 1.0 - x) / b


def _betacf(a, b, x, eps=1e-12, tiny=1e-300):
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 1000):
        m2 = 2 * m
        for aa in (m * (b - m) * x / ((qam + m2) * (a + m2)),
                   -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < eps:
            break
    return h


def supported_percentile(n, beyond=10, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile that leaves at least `beyond`
    samples above it in a sample of `n`; None if not even the median
    does."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def slope(points):
    """Least-squares slope of (t, y) points; 0 for fewer than two
    distinct times."""
    if len(points) < 2:
        return 0.0
    n = len(points)
    mt = sum(t for t, _ in points) / n
    my = sum(y for _, y in points) / n
    var = sum((t - mt) ** 2 for t, _ in points)
    if var == 0:
        return 0.0
    return sum((t - mt) * (y - my) for t, y in points) / var


def peak_times(starts, lo, hi):
    """The trigger starts (sorted) at which a rung [lo, hi] has its backlog
    read: each start inside the rung but the first, whose peak holds only
    the part of an interval since the rung began, and the first start
    after the rung, whose peak holds what the rung left behind."""
    return ([t for t in starts if lo <= t <= hi][1:]
            + [t for t in starts if t > hi][:1])


def backlog_slope(peaks, min_points=3):
    """Growth of a backlog in events/s from its peaks; None when there are
    too few peaks to tell growth from the sawtooth of triggers."""
    return slope(peaks) if len(peaks) >= min_points else None


def rung_sustained(rate, backlog_slope, p90_latency, latency_limit,
                   slope_tolerance):
    """A rung is sustained when its backlog grows by no more than
    `slope_tolerance` of the offered rate and its p90 event latency is
    within the limit. A rung whose growth could not be measured
    (backlog_slope None: too few peaks) is unclassified, and does not
    count as sustained."""
    return (backlog_slope is not None
            and backlog_slope <= slope_tolerance * rate
            and p90_latency is not None and not math.isnan(p90_latency)
            and p90_latency <= latency_limit)


def sustained_rung(rungs):
    """rungs: list of dicts in ascending rate order, each with `sustained`.
    Returns the highest sustained rung below the first unsustained one
    (a rung above a failed one does not count), or None."""
    best = None
    for r in rungs:
        if not r["sustained"]:
            break
        best = r
    return best


def backlog_series(files, times):
    """Backlog in events at each of `times`: events of files published at
    or before that time and taken later.
    files: list of (published_time, rows, taken_time)."""
    return [(t, sum(rows for pub, rows, taken in files
                    if pub <= t < taken)) for t in sorted(set(times))]


def self_times(spans):
    """spans: list of dicts with id, parent, start, end. Returns
    {id: self seconds}: the span's duration minus the part of it that its
    children cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: max(0.0, (s["end"] - s["start"]) - union_length(
        [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
        s["start"], s["end"])) for s in spans}


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
