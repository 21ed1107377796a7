"""The benchmark's arithmetic: medians, the tail percentile, the idle time
of a span, and the reduction of a run's records to metrics. Pure
functions over the records `graftbench.Main` writes, so they can be
tested without Spark (see test_stats.py)."""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The metrics the result line carries, with their units: every
# end-to-end metric in an untraced run, every per-layer one in a traced
# run. BENCHMARK.json lists the same names and units.
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_cpu_s": "s"}
PER_LAYER_UNITS = {"op.wall_s": "s", "op.jobs": "count", "op.task_s": "s",
                   "op.idle_s": "s", "op.shuffle_mb": "MB", "op.spill_mb": "MB",
                   "op.rows_read_per_result": "ratio"}

# Percentile levels tried for the tail, highest first.
TAIL_LEVELS = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0, 50.0)


def valid_name(name):
    """A metric name: a letter or digit, then letters, digits, `_`, `.`
    or `-`; at most 64 characters."""
    return bool(NAME_RE.match(name))


def median(xs):
    return statistics.median(xs)


def nearest_rank(sorted_xs, p):
    """1-based nearest rank of percentile `p` in `sorted_xs`."""
    n = len(sorted_xs)
    return max(1, min(n, math.ceil(round(p * n / 100, 9))))


def tail(xs, beyond=10):
    """The highest of TAIL_LEVELS whose nearest-rank value has at least
    `beyond` samples above it, as (percentile, value, samples beyond);
    None when no level qualifies (fewer than 2 * beyond samples)."""
    s = sorted(xs)
    for p in TAIL_LEVELS:
        rank = nearest_rank(s, p)
        if len(s) - rank >= beyond:
            return p, s[rank - 1], len(s) - rank
    return None


def busy_ms(intervals, start, end):
    """Length of the union of (launch, finish) intervals, clipped to
    [start, end]."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if min(b, end) > max(a, start))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_s(span):
    """Span wall time during which none of its tasks ran: driver
    planning, job barriers and driver-side math."""
    busy = busy_ms(span["tasks"], span["start_ms"], span["end_ms"]) / 1000.0
    return max(0.0, span["wall_s"] - busy)


SPAN_COUNTERS = ("wall_s", "jobs", "task_s", "idle_s", "shuffle_mb", "spill_mb")


def span_counters(span):
    c = {k: span[k] for k in SPAN_COUNTERS if k != "idle_s"}
    c["idle_s"] = idle_s(span)
    return c


def ok_ops(records):
    """Ops that passed their check. Failed ops are counted, never timed."""
    return [r for r in records if r["rec"] == "op" and r["ok"]]


def op_counts(records):
    ops = [r for r in records if r["rec"] == "op"]
    return len(ops), sum(1 for r in ops if not r["ok"])


def end_to_end(records):
    """The end-to-end metrics of an untraced run."""
    setup = next(r for r in records if r["rec"] == "setup")
    ops = ok_ops(records)
    if not ops:
        raise ValueError("no op passed its check")
    return {
        "setup_s": setup["session_s"] + sum(setup["phases"].values()),
        "op_p50_s": median([r["wall_s"] for r in ops]),
        "op_cpu_s": median([r["cpu_s"] for r in ops]),
    }


def traced_ops(records):
    """{op index: [spans]} for the traced ops that passed their check."""
    ok = {r["i"] for r in ok_ops(records) if r["traced"]}
    by_op = {i: [] for i in ok}
    for r in records:
        if r["rec"] == "span" and r["phase"] == "op" and r["op"] in ok:
            by_op[r["op"]].append(r)
    return by_op


def per_layer(records):
    """The per-layer metrics of a traced run: each traced op's span
    counters summed over the op, then the median over traced ops; and
    the op's input records read per result row returned."""
    by_op = traced_ops(records)
    if not by_op:
        raise ValueError("no traced op passed its check")
    per_op = []
    for spans in by_op.values():
        sums = {k: sum(span_counters(s)[k] for s in spans) for k in SPAN_COUNTERS}
        results = sum(s["results"] for s in spans if s["results"] >= 0)
        read = sum(s["records_read"] for s in spans)
        sums["rows_read_per_result"] = read / results if results > 0 else float("nan")
        per_op.append(sums)
    return {"op." + k: median([o[k] for o in per_op]) for k in per_op[0]}


def span_table(records):
    """{span name: {counter: median over calls}} over every recorded
    span (set-up and traced ops), plus `calls` and, where
    the span returned rows, `rows_read_per_result`."""
    ok = {r["i"] for r in ok_ops(records)}
    calls = {}
    for r in records:
        if r["rec"] != "span" or (r["phase"] == "op" and r["op"] not in ok):
            continue
        calls.setdefault(r["name"], []).append(r)
    table = {}
    for name, spans in calls.items():
        row = {k: median([span_counters(s)[k] for s in spans]) for k in SPAN_COUNTERS}
        row["calls"] = len(spans)
        results = sum(s["results"] for s in spans if s["results"] >= 0)
        if results > 0:
            row["rows_read_per_result"] = sum(s["records_read"] for s in spans) / results
        table[name] = row
    return table


def tracing_overhead(records):
    """(median traced op wall, median untraced op wall, overhead ratio)
    of a traced run, or None without both kinds of op."""
    ops = ok_ops(records)
    traced = [r["wall_s"] for r in ops if r["traced"]]
    plain = [r["wall_s"] for r in ops if not r["traced"]]
    if not traced or not plain:
        return None
    t, u = median(traced), median(plain)
    return t, u, t / u - 1.0
