"""Summary statistics the benchmark reports."""

import statistics

# Percentiles considered for a tail figure, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of samples at or below it."""
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail(values):
    """The highest percentile with at least MIN_BEYOND samples beyond it.

    Returns (p, value), or None when even the median has fewer than
    MIN_BEYOND samples above it.
    """
    n = len(values)
    for p in TAIL_CANDIDATES:
        rank = -(-n * p // 100)
        if n - rank >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def timing(values):
    """A timing record: median, quartiles, the supported tail percentile and the sample count."""
    rec = {"n": len(values)}
    if values:
        rec["p50"] = statistics.median(values)
    if len(values) >= 2:
        rec["q1"], _, rec["q3"] = statistics.quantiles(values, n=4)
    t = tail(values)
    if t is not None:
        rec["tail_pct"], rec["tail"] = t
    return rec


def freshness(files, batches_by_sink):
    """Seconds from each file's landing until the last sink committed it.

    `files` lists (land_time, after) pairs, where `after` maps each sink to
    the last batch id it had committed when the file landed. A sink commits
    the file in its first data-bearing batch with a higher id; that holds
    when no batch is running as the file lands, as in a closed loop.
    `batches_by_sink` maps a sink to its data-bearing batches as
    (batch_id, commit_time) pairs. A file some sink never committed gets None.
    """
    out = []
    for landed, after in files:
        ends = [min((t for b, t in batches if b > after[sink]), default=None)
                for sink, batches in batches_by_sink.items()]
        out.append(None if None in ends else max(ends) - landed)
    return out
