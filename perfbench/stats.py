"""Statistics helpers: percentiles, span self time, run spread."""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)


def _rank(p, n):
    # rounded first, so 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n, min_beyond=10):
    """The highest percentile of TAIL_LADDER with at least `min_beyond` of
    `n` samples above it, or None when even p90 has too few."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= min_beyond:
            return p
    return None


def median(values):
    return statistics.median(values)


def self_times(spans, root_id):
    """Per-layer self time under the span `root_id`.

    `spans` are dicts with id, parent, layer, start, end (seconds). At each
    instant the innermost open spans (open spans with no open child) share
    that instant equally; a span's self time is its share summed over time.
    For properly nested spans this is the usual definition, duration minus
    the part its children cover; spans that run concurrently (the batches
    of two streaming queries) split the time instead of counting it twice. Returns ({layer: seconds}, root_duration, unspanned), where
    `unspanned` is the root's own share, so sum(layers) + unspanned equals
    the root duration.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    root = next(s for s in spans if s["id"] == root_id)
    lo, hi = root["start"], root["end"]
    tree, stack = [], [root]
    while stack:
        s = stack.pop()
        tree.append(s)
        stack.extend(children.get(s["id"], []))
    events = []
    for s in tree:
        a, b = max(s["start"], lo), min(s["end"], hi)
        if b > a:
            events += [(a, 1, id(s), s), (b, 0, id(s), s)]
    events.sort(key=lambda e: (e[0], e[1]))
    open_spans, own = {}, {}
    prev = lo
    for t, kind, key, s in events:
        if t > prev and open_spans:
            ids = {sp["id"] for sp in open_spans.values()}
            inner = [sp for sp in open_spans.values()
                     if not any(c["id"] in ids
                                for c in children.get(sp["id"], []))]
            for sp in inner:
                own[id(sp)] = own.get(id(sp), 0.0) + (t - prev) / len(inner)
        prev = max(prev, t)
        if kind == 1:
            open_spans[key] = s
        else:
            open_spans.pop(key, None)
    layers = {}
    for s in tree:
        if s is not root:
            layers[s["layer"]] = layers.get(s["layer"], 0.0) + \
                own.get(id(s), 0.0)
    return layers, hi - lo, own.get(id(root), 0.0)
