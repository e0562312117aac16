"""Arithmetic of the graft benchmark: percentiles, ratios and span self time.

Kept free of I/O so that test_stats.py can check it directly.
"""


def median(xs):
    """Median of a non-empty sequence (mean of the two middle values)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, never
    below the median.

    Returns (value, percentile, sample count). With n samples sorted
    ascending, the value of rank n - 10 (1-based) has exactly ten samples
    above it; its nearest-rank percentile is 100 * (n - 10) / n. Below 20
    samples no percentile at or above the median has ten samples beyond
    it, so the median is reported, as percentile 50.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n < 20:
        return median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def ratio(num, den):
    """num / den, or 0.0 when nothing was attempted (den == 0)."""
    return num / den if den else 0.0


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def uncovered(root, spans):
    """Time of the root span's interval that none of `spans` covers."""
    lo, hi = root["start"], root["end"]
    return (hi - lo) - union_length([(max(s["start"], lo), min(s["end"], hi)) for s in spans])


def setup_seconds(session_s, fixture_s, warmup_s):
    """setup_s of a run from its set-ups and warm-up.

    The first set-up starts the session in a cold JVM; later ones open
    sessions on the running context, so only the first session start is
    a real one and it is counted as it is. Fixture generation is counted
    as the median over the set-ups, then the warm-up is added.
    """
    return session_s[0] + median(fixture_s) + warmup_s


def attach(spans, jobs, stages):
    """Joins Spark jobs and stages to the client span tree of one operation.

    spans: dicts with id, parent, layer, name, start, end (client side).
    jobs: dicts with id, start, end. stages: dicts with id, job, start, end.
    A job's parent is the innermost client span open when it started (the
    operation's root span if none is); a stage's parent is its job.
    Returns the combined list of spans, every one with layer and parent.
    """
    out = [dict(s) for s in spans]
    next_id = max([s["id"] for s in out] + [0]) + 1
    depth = {}

    def level(s):
        if s["id"] not in depth:
            p = next((x for x in out if x["id"] == s["parent"]), None)
            depth[s["id"]] = 0 if p is None else level(p) + 1
        return depth[s["id"]]

    client = list(out)
    roots = [s for s in client if s["parent"] == -1]
    job_span = {}
    for j in jobs:
        end = j["end"] if j["end"] is not None else j["start"]
        holders = [s for s in client if s["start"] <= j["start"] <= s["end"]]
        parent = max(holders, key=level) if holders else (roots[0] if roots else None)
        span = {"id": next_id, "parent": parent["id"] if parent else -1, "layer": "exec",
                "name": "job %d" % j["id"], "start": j["start"], "end": end}
        next_id += 1
        out.append(span)
        job_span[j["id"]] = span
    for st in stages:
        parent = job_span.get(st["job"])
        out.append({"id": next_id, "parent": parent["id"] if parent else -1, "layer": "exec",
                    "name": "stage %d" % st["id"], "start": st["start"], "end": st["end"]})
        next_id += 1
    return out


def self_times(spans):
    """Self time per span, so that self times add up to the root's wall.

    Each span is first clipped to its parent. The run is then cut at every
    span boundary; each piece of time goes to the innermost spans open
    during it (those with no open child), split evenly among them when
    several run at once, as concurrent Spark jobs do. A span with no
    concurrent sibling thus gets its duration minus the part of its
    interval that its children cover.

    Returns {span id: self time}.
    """
    by_id = {s["id"]: s for s in spans}
    clipped = {}

    def clip(s):
        if s["id"] not in clipped:
            lo, hi = s["start"], s["end"]
            p = by_id.get(s["parent"])
            if p is not None:
                plo, phi = clip(p)
                lo, hi = max(lo, plo), min(hi, phi)
            clipped[s["id"]] = (lo, max(lo, hi))
        return clipped[s["id"]]

    children = {}
    for s in spans:
        clip(s)
        children.setdefault(s["parent"], []).append(s["id"])
    out = {s["id"]: 0.0 for s in spans}
    points = sorted({t for iv in clipped.values() for t in iv})
    for a, b in zip(points, points[1:]):
        active = {i for i, (lo, hi) in clipped.items() if lo <= a and hi >= b}
        leaves = [i for i in active if not any(c in active for c in children.get(i, ()))]
        for i in leaves:
            out[i] += (b - a) / len(leaves)
    return out


def layer_self_times(spans):
    """Sum of self time per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
