"""Percentiles and span arithmetic for the log-service benchmark."""

import math
import statistics
from collections import defaultdict


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q of all
    samples at or below it."""
    s = sorted(values)
    if not s:
        return 0.0
    k = min(len(s), max(1, math.ceil(q * len(s))))
    return s[k - 1]


def tail(values, target=0.99, beyond=10):
    """The highest percentile up to `target` with at least `beyond` samples
    above it, as (q, value, n). With too few samples for any such tail the
    median stands in (q = 0.5)."""
    n = len(values)
    q = min(target, (n - beyond) / n) if n > 2 * beyond else 0.5
    return q, percentile(values, q), n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def overlap_wait(intervals):
    """Sum of durations minus their union: for calls into one monitor, the
    time callers spent waiting for another holder."""
    return sum(e - s for s, e in intervals) - union_length(intervals)


class Span:
    __slots__ = ("id", "parent", "name", "req", "thread", "start", "end", "records", "first")

    def __init__(self, row):
        self.id, self.parent = int(row[0]), int(row[1])
        self.name, self.req, self.thread = row[2], int(row[3]), row[4]
        self.start, self.end = int(row[5]), int(row[6])
        self.records, self.first = int(row[7]), int(row[8])

    @property
    def dur(self):
        return self.end - self.start


def read_spans(path):
    with open(path) as f:
        rows = [line.rstrip("\n").split("\t") for line in f]
    return [Span(r) for r in rows[1:] if len(r) == 9]


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s.parent:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())]
        out[s.id] = s.dur - union_length([c for c in covered if c[1] > c[0]])
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def windows(seconds, n):
    """The timed phase [0, seconds) cut into n equal windows."""
    w = seconds / n
    return [(i * w, (i + 1) * w) for i in range(n)]


def window_rates(sent, done, records, bounds):
    """Records per second in each window. A request's records count in
    proportion to the part of [sent, done] that falls in the window."""
    out = []
    for lo, hi in bounds:
        total = 0.0
        for s, d, n in zip(sent, done, records):
            if d > s:
                total += n * max(0.0, min(d, hi) - max(s, lo)) / (d - s)
            elif lo <= d < hi:
                total += n
        out.append(total / (hi - lo))
    return out


def by_window(sent, values, bounds):
    """Values grouped by the window their request was sent in; a request
    sent after the last window counts in the last one."""
    out = [[] for _ in bounds]
    w = bounds[0][1] - bounds[0][0]
    for s, v in zip(sent, values):
        out[min(len(bounds) - 1, max(0, int(s // w)))].append(v)
    return out
