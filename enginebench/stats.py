"""Arithmetic of the engine benchmark: quartile spreads, failure
shares and span self times. Kept free of I/O so it can be unit-tested."""
import statistics


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as `statistics.quantiles(values, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def failed_frac(attempted_ids, failed_ids):
    """Ids that threw or returned a wrong output, over ids attempted."""
    attempted = set(attempted_ids)
    if not attempted:
        raise ValueError("no ids attempted")
    return len(attempted & set(failed_ids)) / len(attempted)


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in clipped:
        if b <= max(a, end):
            continue
        a = max(a, end)
        total += b - a
        end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start_ns,
    end_ns; returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def layer_self_seconds(spans):
    """Per pass, the self seconds summed by layer: {pass: {layer: s}}."""
    own = self_times(spans)
    out = {}
    for s in spans:
        layers = out.setdefault(s["pass"], {})
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + own[s["id"]] / 1e9
    return out


def unstable_digests(passes, ids):
    """Self-verified ids whose output digest differs between passes, or is
    missing from a pass in which the id did not throw."""
    bad = set()
    for i in ids:
        seen = {p["digests"].get(i) for p in passes if i not in p["failed"]}
        if len(seen) > 1 or None in seen:
            bad.add(i)
    return bad
