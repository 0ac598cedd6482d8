"""Pure functions behind the benchmark's numbers: percentiles, the
canonical result digest, span self times and the per-layer roll-up."""
import base64
import datetime as dt
import decimal
import hashlib
import math
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from oracle_check import normalize  # noqa: E402  (the repo's oracle normalisation)

P90_MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of n samples lie strictly beyond the nearest-rank q-th."""
    return n - max(1, math.ceil(q * n))


def p90(values):
    """(p90, samples beyond it, rule held). The rule: at least
    P90_MIN_BEYOND samples lie beyond the p90, i.e. n >= 100."""
    b = beyond(len(values), 0.9)
    return percentile(values, 0.9), b, b >= P90_MIN_BEYOND


def median(values):
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# ------------------------------------------------------------ digests

def _decode(v):
    """Undo the harness's JSON type tags (see Harness.cell)."""
    if isinstance(v, dict):
        if "$d" in v:
            return decimal.Decimal(v["$d"])
        if "$t" in v:
            return pd.Timestamp(v["$t"])
        if "$date" in v:
            return dt.date.fromisoformat(v["$date"])
        if "$b" in v:
            return base64.b64decode(v["$b"])
        if "$s" in v:
            return {k: _decode(x) for k, x in v["$s"]}
        if "$m" in v:
            return [(_decode(k), _decode(x)) for k, x in v["$m"]]
    if isinstance(v, list):
        return [_decode(x) for x in v]
    return v


def frame(columns, rows):
    """A collected Spark result as the DataFrame pandas would read back
    from the same rows written to parquet."""
    return pd.DataFrame([[_decode(v) for v in r] for r in rows], columns=columns)


def digest(df):
    """Hash of the repo's oracle normalisation: column- and
    row-order-insensitive, type-tagged rows."""
    return hashlib.sha256(repr(normalize(df)).encode()).hexdigest()[:24]


# ------------------------------------------------------------ spans

def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans, eps=0.002):
    """spans: dicts with name/start/end (one op). A span's parent is the
    innermost earlier-starting span that still contains it (within eps,
    for the millisecond-resolution Catalyst phases); self time is its
    duration minus the union of its children's intervals, clipped to it.
    Returns [(span, self_s)] in start order."""
    order = sorted(range(len(spans)),
                   key=lambda i: (spans[i]["start"], spans[i]["start"] - spans[i]["end"], i))
    kids = {i: [] for i in order}
    stack = []
    for i in order:
        while stack and spans[stack[-1]]["end"] + eps < spans[i]["end"]:
            stack.pop()
        if stack:
            kids[stack[-1]].append(i)
        stack.append(i)
    out = []
    for i in order:
        s = spans[i]
        clipped = [(max(spans[k]["start"], s["start"]), min(spans[k]["end"], s["end"])) for k in kids[i]]
        covered = union_length([c for c in clipped if c[1] > c[0]])
        out.append((s, (s["end"] - s["start"]) - covered))
    return out


LAYER_OF_SPAN = {
    "op": "op.self_s", "build": "build.s", "sql.gate": "sql.gate_s", "exec": "exec.s",
    "catalyst.analysis": "catalyst.analysis_s", "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s", "index.append": "index.append_s",
    "index.incr_dedup": "index.incr_dedup_s", "index.read": "index.read_s",
}
