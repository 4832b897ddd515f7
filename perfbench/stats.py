"""The benchmark's own arithmetic, kept apart from Spark so it can be tested
alone (test_stats.py)."""
import math

# Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p, n):
    """1-based nearest rank of percentile p in n samples (rounded first, so
    that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile p (0 < p <= 100) of a non-empty sample."""
    if not xs:
        raise ValueError("percentile of an empty sample")
    s = sorted(xs)
    return s[min(_rank(p, len(s)), len(s)) - 1]


def tail_percentile(n):
    """The highest percentile of LADDER with at least ten of n samples
    beyond it, or None when even the median has fewer than ten beyond."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def tail(xs):
    """(percentile, value) of the highest percentile the sample supports."""
    p = tail_percentile(len(xs))
    if p is None:
        raise ValueError(f"{len(xs)} samples support no percentile with ten beyond it")
    return p, percentile(xs, p)


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sample")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def latency_s(commit_ms, due_ms, delay_ms=0, gap_ms=0):
    """Latency of one result: from the time its last input was *due* (not
    when it was actually released, so a stalled release counts against the
    system) to the commit of its micro-batch, less the watermark delay and
    session gap every result waits by design."""
    return (commit_ms - due_ms - delay_ms - gap_ms) / 1000.0


def commit_ms(append_ms, job_ms):
    """Time an appendBatch call spent outside Spark jobs: listing, CAS and
    publish. Job spans are whole milliseconds, so clamp at zero."""
    return [max(0.0, a - j) for a, j in zip(append_ms, job_ms)]


def growth(xs):
    """Median of the last tenth of a series over the median of its first
    tenth: how a per-commit cost grows with history. Needs ten samples."""
    if len(xs) < 10:
        raise ValueError("growth needs at least ten samples")
    k = len(xs) // 10
    return median(xs[-k:]) / median(xs[:k])


def failed_frac(failed, attempted):
    """Failed operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted
