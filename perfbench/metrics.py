"""Arithmetic that turns a run's raw observations into metrics.

Kept free of I/O so test_metrics.py can pin it: nearest-rank
percentiles, mapping each source offset to the trigger that committed
it (and from there each event's latency), and span self time.
"""
import bisect
import math
import statistics


def nearest_rank(values, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank method:
    the smallest value with at least p% of the values at or below it."""
    if not values:
        raise ValueError("no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values):
    return statistics.median(values)


def trigger_end_ms(trigger):
    """When a trigger committed: its start plus its execution time."""
    return trigger["ts_ms"] + trigger["dur"].get("triggerExecution", 0)


def committing_trigger(offset, triggers):
    """The trigger whose offset range (start_off, end_off] holds
    `offset`, or None if no trigger committed it. `triggers` must be
    ordered by batch id, as the query reports them."""
    ends = [t["end_off"] for t in triggers]
    i = bisect.bisect_left(ends, offset)
    if i == len(triggers) or triggers[i]["start_off"] >= offset:
        return None
    return triggers[i]


def event_latencies(chunks, triggers, t0_ms, rate):
    """Latency of every enqueued event, in ms, from when it was due
    (event k at t0 + k/rate) to the end of the trigger that committed
    the chunk holding it. `chunks` are [offset, first_event, count,
    sent_ms] as the generator recorded them. Returns (latencies,
    uncommitted event count)."""
    out = []
    lost = 0
    step = 1000.0 / rate
    for offset, first, count, _sent in chunks:
        t = committing_trigger(offset, triggers)
        if t is None:
            lost += count
            continue
        end = trigger_end_ms(t)
        out.extend(end - (t0_ms + k * step) for k in range(first, first + count))
    return out, lost


def windowed_percentile(latencies, rate, window_ms, p):
    """Median over consecutive windows of the p-th percentile latency.
    `latencies` are per event in event order (event k due at k/rate
    after the start); each window holds the events due in it, and a
    last window shorter than half a window joins the one before."""
    per = max(1, int(round(window_ms * rate / 1000.0)))
    windows = [latencies[i:i + per] for i in range(0, len(latencies), per)]
    if len(windows) > 1 and len(windows[-1]) < per / 2:
        last = windows.pop()
        windows[-1] = windows[-1] + last
    return median([nearest_rank(w, p) for w in windows])


def generator_late_ms(chunks, t0_ms, rate):
    """How late each chunk went out: send time minus the due time of
    its first (most overdue) event."""
    step = 1000.0 / rate
    return [sent - (t0_ms + first * step) for _off, first, _n, sent in chunks]


def self_time(span, spans):
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children counted once)."""
    s0, s1 = span["start_ms"], span["end_ms"]
    cover = sorted((max(c["start_ms"], s0), min(c["end_ms"], s1))
                   for c in spans if c["parent"] == span["id"])
    covered = 0.0
    cur0 = cur1 = None
    for a, b in cover:
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                covered += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        covered += cur1 - cur0
    return (s1 - s0) - covered


def prefix_self_ms(durations):
    """Per-layer self time from prefix pipelines run over the same
    input: [(layer, seconds of the pipeline ending at that layer)] in
    pipeline order -> {layer: ms the layer adds to its prefix}."""
    out = {}
    prev = 0.0
    for layer, secs in durations:
        out[layer] = (secs - prev) * 1000.0
        prev = secs
    return out
