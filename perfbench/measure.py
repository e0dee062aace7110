"""Statistics and span helpers shared by run.py and the tests."""
import math


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile of `values`. Refuses (ValueError) when
    fewer than `min_beyond` samples lie above it: such a tail is a guess,
    not a measurement. Failed operations enter as math.inf."""
    n = len(values)
    rank = max(1, math.ceil(p / 100 * n))
    if n == 0 or n - rank < min_beyond:
        raise ValueError(f"p{p} needs {min_beyond} samples beyond it; "
                         f"{n} samples leave {max(n - rank, 0)}")
    return sorted(values)[rank - 1]


def tail(values, candidates=(99.9, 99, 95, 90, 75)):
    """(p, value) for the highest candidate percentile the sample supports,
    or None when none is supported."""
    for p in candidates:
        try:
            return p, percentile(values, p)
        except ValueError:
            continue
    return None


def self_times(spans):
    """{span name: (count, total self ms)}. A span's self time is its
    duration minus the part of it covered by its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered, end = 0, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["t0"]), min(b, s["t1"])
            if b <= a:
                continue
            if end is None or a >= end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        n, ms = out.get(s["name"], (0, 0.0))
        out[s["name"]] = (n + 1, ms + (s["t1"] - s["t0"] - covered) / 1e6)
    return out


def repeat_share(indices):
    """Share of entries (in execution order) whose value already occurred."""
    seen, repeats = set(), 0
    for i in indices:
        repeats += i in seen
        seen.add(i)
    return repeats / len(indices) if indices else 0.0
