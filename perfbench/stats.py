"""Statistics of the benchmark: percentiles, failure accounting, span self time."""
import math
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def latencies(ops):
    """Op latencies in ms; an op that threw or gave a wrong answer counts
    as infinitely slow, so it misses every latency bound."""
    return [o["ms"] if o["ok"] else math.inf for o in ops]


def percentile(xs, q):
    """Nearest-rank q-quantile of `xs`, refused unless at least
    MIN_BEYOND samples lie beyond it."""
    n = len(xs)
    k = max(1, math.ceil(q * n))
    if n - k < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} of {n} samples has {n - k} beyond it, "
                         f"fewer than {MIN_BEYOND}")
    return sorted(xs)[k - 1]


def median(xs):
    return statistics.median(xs)


def tail(xs, want=0.9):
    """(q, value) for the highest percentile q <= want, in whole percent,
    with at least MIN_BEYOND samples beyond it; None if there is none."""
    for pct in range(round(want * 100), 49, -1):
        try:
            return pct / 100, percentile(xs, pct / 100)
        except ValueError:
            continue
    return None


def self_times(spans):
    """Self time of each span in ns: its duration minus the union of the
    intervals its children cover, clipped to the span."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
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
        out[s["id"]] = (hi - lo) - covered
    return out


def failure_counts(ops, checks):
    """(attempted, failed): every op is attempted once; a failed check that
    no op carries (a run-level check) counts as one more failure."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if failed == 0 and any(not c["ok"] for c in checks):
        failed = 1
    return max(attempted, 1), failed
