"""Statistics the benchmark reports and the run-agreement check.

- `tail_with_10_beyond`: the highest percentile that still has at least ten
  samples beyond it, with its percentile and sample count.
- `self_times`: each span's duration minus the part its children cover.
- `spread` and `agreement`: the quartile spread of a metric over runs, as a
  share of its median, and whether two sets of runs agree within bounds.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail_with_10_beyond(xs):
    """(value, percentile, n): the largest sample with at least ten samples
    above it, i.e. the 11th largest. None when there are fewer than 11."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def _covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in ns}. A span's self time is its duration minus
    the part of its interval that its children cover; children are clipped
    to the parent's interval and overlapping children are counted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        clipped = [(max(c["start_ns"], lo), min(c["end_ns"], hi)) for c in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - _covered([(a, b) for a, b in clipped if b > a])
    return out


def spread(xs):
    """Distance between the first and third quartile, as a share of the median."""
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def worse_by(first_median, second_median, better):
    """How much worse the second median is than the first, as a share of the first."""
    if better == "lower":
        return (second_median - first_median) / first_median
    return (first_median - second_median) / first_median


def agreement(first, second, metrics):
    """Check two sets of runs of the same code against the metrics' bounds.

    `first` and `second` map metric name -> list of values (one per run);
    `metrics` is the `end_to_end` list of BENCHMARK.json. Every spread must
    stay within its bound in both sets, and no second median may be worse
    than the first by more than the bound. Returns a list of
    (metric, what, value, bound) for each violation; empty when they agree."""
    bad = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        for which, xs in (("first spread", a), ("second spread", b)):
            s = spread(xs)
            if s > bound:
                bad.append((name, which, s, bound))
        w = worse_by(median(a), median(b), m["better"])
        if w > bound:
            bad.append((name, "median drift", w, bound))
    return bad
