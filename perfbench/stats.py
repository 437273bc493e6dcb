"""Pure arithmetic of the benchmark: percentiles, interval unions, span
self time, result digests and metric-name rules. Kept free of I/O so
tests/test_stats.py can check it directly."""
import hashlib
import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# The highest percentile reported must leave at least this many samples
# strictly beyond it.
MIN_TAIL = 10


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def tail_percentile(values, q=0.9, min_tail=MIN_TAIL):
    """The q-th percentile of `values` (nearest rank), moved down when
    needed so that at least `min_tail` samples lie strictly above it.

    Returns (value, samples_beyond). Raises ValueError when fewer than
    min_tail + 1 samples exist.
    """
    xs = sorted(values)
    n = len(xs)
    if n < min_tail + 1:
        raise ValueError(f"{n} samples cannot leave {min_tail} beyond a percentile")
    rank = max(1, math.ceil(q * n))        # 1-based nearest rank
    rank = min(rank, n - min_tail)
    while rank > 1 and xs[rank] == xs[rank - 1]:
        # ties with the next sample would not be "beyond" the value
        rank -= 1
    value = xs[rank - 1]
    beyond = sum(1 for x in xs if x > value)
    if beyond < min_tail:
        raise ValueError("too many ties to leave enough samples beyond")
    return value, beyond


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Child
    intervals are clipped to the span, and overlapping children count
    once."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return str(v)


def canonical(cols, types, rows):
    """Order-insensitive canonical form of a result: columns sorted by
    name, each row projected in that order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out_rows = sorted(tuple((v is None, type(v).__name__, _cell(v)) for v in
                            (r[i] for i in order)) for r in rows)
    return ([cols[i] for i in order], [types[i] for i in order], out_rows)


def digest(cols, types, rows):
    """Row count and sha256 of the canonical form of a result."""
    c, t, r = canonical(cols, types, rows)
    h = hashlib.sha256(json.dumps([c, t, r], separators=(",", ":")).encode())
    return {"rows": len(rows), "digest": h.hexdigest()}

