"""Pure helpers for the benchmark's statistics (tested in tests/test_stats.py)."""
import math
import statistics

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3); a single sample is its own quartiles."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def percentile(xs, p):
    """Nearest-rank percentile `p` (0-100) of `xs`."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_level(n):
    """The highest tail percentile with at least ten of `n` samples beyond
    it, or None when there are too few samples for any."""
    for p in TAIL_LEVELS:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def summary(xs):
    """Median, quartiles, sample count and, where `tail_level` allows, the
    tail percentile of a list of timings."""
    q1, q2, q3 = quartiles(xs)
    out = {"median": q2, "q1": q1, "q3": q3, "n": len(xs)}
    p = tail_level(len(xs))
    if p is not None:
        out[f"p{p:g}"] = percentile(xs, p)
    return out


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. `spans` are dicts with `id`, `parent`,
    `start_ns` and `end_ns`; returns {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def recall_at_k(served, exact, k=10):
    """Share of the exact top-k that the served top-k contains."""
    truth = list(exact)[:k]
    return len(set(list(served)[:k]) & set(truth)) / float(len(truth))
