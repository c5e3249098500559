"""The bench's own statistics: medians, the supported-percentile rule and
failure accounting."""
import statistics

# Percentiles considered for a tail figure, lowest first.
LADDER = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default definition)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def groups_beyond(samples, p):
    """Independent samples beyond the p-th percentile of `samples`, a list
    of (group, value). Samples that share a group share fate (the ticks
    of one micro-batch), so each group counts once."""
    cut = percentile([v for _, v in samples], p)
    return len({g for g, v in samples if v > cut})


def supported_percentile(samples, min_beyond=MIN_BEYOND):
    """Highest percentile of LADDER with at least `min_beyond` independent
    samples beyond it, or None when even the median lacks them."""
    best = None
    for p in LADDER:
        if groups_beyond(samples, p) >= min_beyond:
            best = p
    return best


def failure_counts(ops, checks):
    """(attempted, failed): every timed operation and every correctness
    check is one attempt; an operation that threw and a check that did
    not hold each count as one failure."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def failed_frac(ops, checks):
    attempted, failed = failure_counts(ops, checks)
    return failed / attempted if attempted else 1.0

