"""The benchmark's math and correctness gates, kept free of I/O so the
self-tests in test_stats.py can exercise them directly."""

import math
from collections import Counter

MIN_BEYOND = 10  # samples a reported percentile must have beyond it


def _interp(s, q):
    r = q * (len(s) - 1)
    lo = math.floor(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def beyond(n, p):
    """Samples that lie above the interpolation point of the p-th percentile
    (0.5 <= p < 1) of n samples."""
    return n - 1 - math.floor(p * (n - 1))


def percentile(xs, p):
    """Linear-interpolated percentile (0.5 <= p < 1) that refuses to report a
    tail it cannot support: at least MIN_BEYOND samples must lie above it
    (the median needs 20 samples, p90 92, p95 182)."""
    n = len(xs)
    if n == 0 or beyond(n, p) < MIN_BEYOND:
        raise ValueError(f"p{p * 100:g} needs {MIN_BEYOND} samples above it; have {n} in all")
    return _interp(sorted(xs), p)


def percentile_or_nearest(xs, p):
    """The p-th percentile (p >= 0.5), or the highest one below it that the
    sample supports, never below the median; returns (value, percentile
    used). For per-layer figures only: an end-to-end tail uses
    `percentile`."""
    n = len(xs)
    if n == 0:
        return 0.0, None
    q = p
    while q > 0.5 and beyond(n, q) < MIN_BEYOND:
        q = round(q - 0.01, 2)
    return _interp(sorted(xs), q), q


def median(xs):
    """Plain median, for per-run summaries of a handful of repetitions."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """A span's duration minus the part of it its children cover (children
    clipped to the span, overlaps among them counted once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def check_windows(windows, messages, size):
    """Gate one stream's emitted windows against what its producer appended.

    windows: dicts with `n`, `sum`, `seqs`; messages: {seq: value}.
    Checks that every window has exactly `size` messages, that its sum is the
    generator's sum over its messages, and that every appended message lands
    in exactly one window. Returns (checks attempted, list of failures)."""
    failures = []
    seen = Counter()
    for w in windows:
        seqs = w["seqs"]
        seen.update(seqs)
        if w["n"] != size or len(seqs) != size:
            failures.append(f"window {w['window']} has {w['n']} messages, not {size}")
        expected = sum(messages.get(q, 0) for q in seqs)
        if w["sum"] != expected:
            failures.append(f"window {w['window']} sums to {w['sum']}, generator says {expected}")
    dup = sorted(q for q, c in seen.items() if c > 1)
    if dup:
        failures.append(f"{len(dup)} messages emitted more than once (first: {dup[0]})")
    missing = set(messages) - set(seen)
    if missing:
        failures.append(f"{len(missing)} appended messages never emitted (first: {min(missing)})")
    unknown = set(seen) - set(messages)
    if unknown:
        failures.append(f"{len(unknown)} emitted messages never appended")
    return len(windows) + 1, failures
