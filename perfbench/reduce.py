"""Pure reductions from the harness's raw record to reported metrics.

Kept free of I/O so `perfbench/tests` can check them on hand-made data.
"""
import math
import statistics

# Percentiles the tail is chosen from, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_xs, p):
    """Nearest-rank percentile p (0 < p <= 100) of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail(xs):
    """The highest ladder percentile with at least MIN_BEYOND samples above
    its rank, as (percentile, value, n_beyond). With too few samples for
    any ladder percentile the tail is the maximum, reported as p100."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= MIN_BEYOND:
            return p, nearest_rank(s, p), beyond
    return 100.0, s[-1], 0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(spans):
    """Clips every span to its parent's interval (parents first), so that
    clock skew between the benchmark's clock and listener event times
    never lets a child outlive its parent."""
    done = set()

    def visit(sid):
        if sid in done:
            return
        sp = spans[sid]
        if sp["parent"] is not None:
            visit(sp["parent"])
            par = spans[sp["parent"]]
            sp["start"] = min(max(sp["start"], par["start"]), par["end"])
            sp["end"] = max(min(sp["end"], par["end"]), sp["start"])
        done.add(sid)

    for sid in list(spans):
        visit(sid)
    return spans


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover. `spans` maps id -> dict with
    start, end and parent (None for a root)."""
    children = {}
    for sid, sp in spans.items():
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sid)
    out = {}
    for sid, sp in spans.items():
        s, e = sp["start"], sp["end"]
        covered = union_length(
            [(max(s, spans[c]["start"]), min(e, spans[c]["end"]))
             for c in children.get(sid, ())
             if spans[c]["end"] > s and spans[c]["start"] < e])
        out[sid] = (e - s) - covered
    return out


def attach_execs(bench_spans, execs):
    """Parents each SQL execution. A root execution goes under the innermost
    benchmark span whose interval holds its start; a nested execution under
    the innermost execution of its root that holds its interval (or the
    root itself). Executions outside every benchmark span (untraced passes,
    set-up) are dropped. `bench_spans` is a list of dicts with id ("s<n>"),
    start and end; `execs` holds the listener's records (id, root,
    start_ms, end_ms, counts). Returns "e<id>" -> span dict."""
    done = [x for x in execs if x["end_ms"] >= 0]
    kept = {}
    for x in done:
        if x["root"] != x["id"]:
            continue
        holders = [sp for sp in bench_spans if sp["start"] <= x["start_ms"] < sp["end"]]
        if holders:
            kept["e%d" % x["id"]] = max(holders, key=lambda sp: sp["start"])["id"]
    for x in done:
        if x["root"] != x["id"] and "e%d" % x["root"] in kept:
            outer = [y for y in done if y["root"] == x["root"] and y["id"] != x["id"]
                     and y["start_ms"] <= x["start_ms"] and x["end_ms"] <= y["end_ms"]
                     and y["id"] < x["id"]]
            kept["e%d" % x["id"]] = "e%d" % max((y["id"] for y in outer), default=x["root"])
    return {"e%d" % x["id"]: {"parent": kept["e%d" % x["id"]], "start": x["start_ms"],
                              "end": x["end_ms"], "counts": x["counts"]}
            for x in done if "e%d" % x["id"] in kept}


def median(xs):
    return statistics.median(xs) if xs else 0.0
