"""Pure metric arithmetic for the benchmark: percentile estimates, the
tail percentile a sample count supports, failure accounting, open-loop
lateness, quartile spread, and per-layer self time from spans."""

import statistics

import numpy as np

# a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the `p`-th percentile: a weighted mean of
    every order statistic, with Beta((n+1)q, (n+1)(1-q)) weights. Steadier
    than one or two order statistics when samples are few or clustered."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = np.sort(np.asarray(xs, dtype=float))
    n, q = len(s), p / 100.0
    if n == 1:
        return float(s[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf = np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], grid[1:], [1.0]]),
                    np.concatenate([cdf, [cdf[-1]]]) / cdf[-1])
    return float(np.dot(np.diff(cdf), s))


def tail_percentile(n, min_beyond=MIN_BEYOND):
    """Highest percentile with at least `min_beyond` of `n` samples above
    it, or None for fewer than `min_beyond` samples."""
    if n < min_beyond:
        return None
    return 100.0 * (1.0 - min_beyond / n)


def failed_frac(attempted, failed):
    """Failed operations over attempted ones. A run that attempted
    nothing is an error, never a perfect score."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def lateness(due_ms, emitted_ms):
    """Open-loop generator lateness per send: how long after its scheduled
    time each item went out (never negative: early sends count as 0)."""
    if len(due_ms) != len(emitted_ms):
        raise ValueError("one emit time per scheduled send")
    return [max(0.0, e - d) for d, e in zip(due_ms, emitted_ms)]


def spread(values):
    """Inter-quartile distance as a share of the median, the way the
    benchmark's acceptance check computes it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def _union(intervals):
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per root span: its wall time and the self time of every layer under
    it. A span's self time is its duration minus the part of it that its
    children cover; children are clipped to their parent, so the layer
    self times of one root add up to the root's wall time."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        p = s.get("parent")
        if p is not None and p in by_id:
            kids.setdefault(p, []).append(s)
    roots = [s for s in spans if s.get("parent") is None]
    out = {}
    for root in roots:
        layers = {}

        def walk(span, lo, hi):
            s0, s1 = max(span["start_ms"], lo), min(span["end_ms"], hi)
            if s1 <= s0:
                return
            cs = kids.get(span["id"], [])
            covered = _union([(max(c["start_ms"], s0), min(c["end_ms"], s1))
                              for c in cs if min(c["end_ms"], s1) > max(c["start_ms"], s0)])
            layers[span["layer"]] = layers.get(span["layer"], 0.0) + (s1 - s0) - covered
            for c in cs:
                walk(c, s0, s1)

        walk(root, root["start_ms"], root["end_ms"])
        out[root["name"]] = {"wall_ms": root["end_ms"] - root["start_ms"],
                             "self_ms": dict(sorted(layers.items(), key=lambda kv: -kv[1]))}
    return out
