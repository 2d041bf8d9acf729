"""The benchmark's own arithmetic: medians and quartiles, interval
unions and self time, and the write/space amplification byte
accounting. Kept free of I/O so `test_bench.py` covers it directly."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span, intervals):
    """Length of `span` covered by the union of `intervals`, each clipped to it."""
    s, e = span
    return union_length([(max(s, a), min(e, b)) for a, b in intervals])


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover;
    overlapping children count once."""
    return (span[1] - span[0]) - covered(span, children)


def bytes_written(walks):
    """Bytes of every distinct file seen by any listing. Files under a
    table root are immutable, so a path counts once at its last size."""
    seen = {}
    for w in walks:
        seen.update(w)
    return sum(seen.values())


def new_files(prev, cur):
    """(count, bytes) of files in listing `cur` that `prev` did not hold."""
    fresh = [n for p, n in cur.items() if p not in prev]
    return len(fresh), sum(fresh)


def write_amp(walks, plain_submitted_bytes):
    """Bytes written under the table and view roots per byte of the
    submitted user rows written once as plain parquet."""
    return bytes_written(walks) / plain_submitted_bytes


def space_amp(listing_after_vacuum, plain_live_bytes):
    """Bytes under the table root after the last vacuum per byte of the
    live rows written once as plain parquet."""
    return sum(listing_after_vacuum.values()) / plain_live_bytes
