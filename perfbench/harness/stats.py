"""Summary statistics of one run: latency percentiles and per-layer self
times from the traced run's spans."""
import statistics
from collections import defaultdict


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it: the
    (beyond+1)-th largest sample. Returns (value, percentile, samples)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(values):
    return statistics.median(values)


def self_times(spans):
    """Self time (ns) of each span: its duration minus the part covered by
    its direct children. Spans of one client thread nest, so children of a
    span never overlap each other."""
    covered = defaultdict(int)
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in spans}


def layer_ms_per_request(spans, requests):
    """Mean self time per request (ms) of each span name; the `request`
    root's self time is the part of a request no layer call covers."""
    own = self_times(spans)
    total = defaultdict(float)
    for s in spans:
        total[s["name"]] += own[s["id"]] / 1e6
    return {k: v / max(1, requests) for k, v in total.items()}
