"""The benchmark's arithmetic: percentiles, spreads, span self time, ratios
and the regression bound check. Pure functions, tested in tests/."""
import math
import statistics


def median(values):
    return statistics.median(values)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (the tolerance
    keeps 99.9% of 10000 at rank 9990 despite binary rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(p, len(values)) - 1]


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles(values, n=4))."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    if m == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(m)


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children. `spans` are dicts with id, parent, start_ns,
    end_ns; returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def worse_by(parent_median, new_median, better):
    """How much worse new is than parent, as a share of parent (negative
    when better)."""
    if parent_median == 0:
        return 0.0 if new_median == parent_median else math.inf
    change = (new_median - parent_median) / abs(parent_median)
    return change if better == "lower" else -change


def within_bound(parent_values, new_values, bound, better):
    """The regression check: new's median is not worse than parent's
    median by more than `bound` (a share of parent's median)."""
    return worse_by(median(parent_values), median(new_values), better) <= bound
