"""Pure helpers the benchmark reports with: percentiles with their sample
rule, open-loop lateness and backlog accounting, and run-to-run spread.
Self-test: python3 perfbench/test_stats.py"""

import math
import statistics

# a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, q):
    """Samples strictly beyond the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail(values, q):
    """{value, n, beyond, ok}: ok is False when fewer than MIN_BEYOND
    samples lie beyond the percentile, so the reading is not supported."""
    n = len(values)
    b = beyond(n, q)
    return {"value": percentile(values, q), "n": n, "beyond": b, "ok": b >= MIN_BEYOND}


def weighted_percentile(pairs, q):
    """Nearest-rank percentile over (value, weight) pairs, weight = count of
    identical samples (rows that share one commit)."""
    s = sorted(pairs)
    total = sum(w for _, w in s)
    if total <= 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * total))
    acc = 0
    for v, w in s:
        acc += w
        if acc >= rank:
            return v
    return s[-1][0]


def lateness(due, pub, period_ms):
    """Open-loop generator lateness. A tick is late when it was published
    more than half a period after it was due. The generator ran late when
    any tick slipped a whole period or more than 5% of ticks were late."""
    lags = [p - d for d, p in zip(due, pub)]
    late = sum(1 for x in lags if x > period_ms / 2.0)
    worst = max(lags) if lags else 0.0
    ok = worst <= period_ms and late <= 0.05 * len(lags)
    return {"max_ms": worst, "p50_ms": percentile(lags, 50) if lags else 0.0,
            "late_ticks": late, "ticks": len(lags), "ok": ok}


def backlog(pub, commit):
    """Files published but not yet committed, sampled at each publish.
    pub and commit are per-file times in publish order."""
    out = []
    for k, t in enumerate(pub):
        out.append(sum(1 for j in range(k + 1) if commit[j] > t))
    return out


def backlog_grew(samples, period_ms, batch_ms):
    """The backlog grew when its mean over the last quarter of the schedule
    exceeds the second quarter's mean by more than the files one batch
    duration admits (plus one). The first quarter is left out: it still
    carries the stream's start-up."""
    n = len(samples)
    if n < 8:
        return False
    q = n // 4
    early = statistics.mean(samples[q:2 * q])
    late = statistics.mean(samples[n - q:])
    slack = 1.0 + batch_ms / float(period_ms)
    return late > early + slack


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
