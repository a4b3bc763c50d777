"""The benchmark's arithmetic: tail percentiles, span self times and the
byte ratios behind write and space amplification. Pure functions, checked
by test_stats.py (`python3 -m unittest discover -s perfbench -p 'test_*.py'`)."""

import statistics

#: Depth of each span kind in the trace tree; deeper kinds win the time.
DEPTH = {"pass": 0, "harness": 1, "op": 1, "phase": 2, "batch": 3,
         "job": 4, "stage": 5}


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    With n samples sorted ascending, the value at 1-based rank n - 10 has
    exactly ten samples above it, and it sits at percentile 100*(n-10)/n.
    Below the median that rule says nothing useful, so with fewer than 20
    samples the tail is the median. Returns (value, percentile, n)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, window):
    """Split the wall time of `window` = (start, end) among span kinds.

    At every instant the time goes to the deepest kind active then (see
    DEPTH); an instant no span covers goes to "none". Overlapping spans of
    one kind (concurrent jobs) are counted once, so the parts always sum to
    the window's length exactly. Returns {kind: time}."""
    w0, w1 = window
    events = []
    for sp in spans:
        s, e = max(sp["start"], w0), min(sp["end"], w1)
        if e > s:
            events += [(s, 1, sp["kind"]), (e, -1, sp["kind"])]
    events.sort(key=lambda x: (x[0], x[1]))
    deepest_first = sorted(DEPTH, key=DEPTH.get, reverse=True)
    active = dict.fromkeys(DEPTH, 0)
    out = {}

    def credit(upto, since):
        owner = next((k for k in deepest_first if active[k] > 0), "none")
        out[owner] = out.get(owner, 0) + (upto - since)

    t = w0
    for time, delta, kind in events:
        if time > t:
            credit(time, t)
            t = time
        active[kind] += delta
    if w1 > t:
        credit(w1, t)
    return out


def amplification(bytes_written, bytes_live, user_bytes):
    """(write_amp, space_amp): sink data-file bytes ever written and live
    committed bytes, each over the user cell bytes appended."""
    if user_bytes <= 0:
        return 0.0, 0.0
    return bytes_written / user_bytes, bytes_live / user_bytes

