"""Helpers of `run.py` with tests of their own: percentiles, the tail
rule and the tail mean, span self time, and the metric-name rule."""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_CANDIDATES = (99, 95, 90, 80, 75, 70, 66)
MIN_BEYOND = 10


def valid_name(name):
    """Metric names are 1-64 of [A-Za-z0-9_.-], starting with a letter or digit."""
    return bool(NAME_RE.match(name))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n):
    """The highest of 99/95/90/80/75/70/66 with at least ten samples beyond it,
    or None when n is too small for any of them."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def tail(values):
    """(percentile used, value): the highest percentile with ten samples
    beyond it, or the maximum (reported as 100) when there are too few."""
    p = tail_percentile(len(values))
    return (100, max(values)) if p is None else (p, percentile(values, p))


def tail_mean(values, share=0.25):
    """Mean of the slowest `share` of the values (at least one of them)."""
    if not values:
        raise ValueError("tail of no samples")
    k = max(1, math.ceil(share * len(values)))
    return sum(sorted(values)[-k:]) / k


def covered(interval, others):
    """Length of the part of `interval` covered by the union of `others`
    (all (start, end) pairs), counting overlaps once."""
    lo, hi = interval
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in others if e > lo and s < hi)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    return (span[1] - span[0]) - covered(span, children)
