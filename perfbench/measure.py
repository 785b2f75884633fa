"""Pure measurement helpers: percentiles, spans, the file classifier.

Nothing here touches Spark, so the arithmetic is unit-tested on its own
(perfbench/tests/test_measure.py).
"""

from __future__ import annotations

import contextlib
import decimal
import itertools
import math
import os
import re
import statistics
import time

# Sidecar families, named by the suffix the engine puts after
# `<table>.parquet.` in a layout directory.
SIDECAR_FAMILIES = (
    "stats", "vidx", "proj", "aggproj", "rollup", "cohort", "ftidx",
    "textstats", "dedupsig", "knn", "knn-graph",
)
# `ingest.bytes.<family>` / `append.bytes.<family>`: table data plus
# every sidecar family.
BYTE_FAMILIES = ("table",) + SIDECAR_FAMILIES

# A `*_tail_s` percentile must have at least this many samples above it.
TAIL_BEYOND = 10
# Relative tolerance for floats in a checked result: a route that sums
# in fixed point and a plan that sums doubles agree only to the last few
# bits (287623545.5 against 287623545.4999993).
FLOAT_REL_TOL = 1e-9

_LAYOUT_ENTRY = re.compile(r"^(?P<table>[A-Za-z0-9_]+)\.parquet(?:\.(?P<suffix>[A-Za-z0-9_.-]+))?$")


def median(values):
    return statistics.median(values) if values else None


def tail(values):
    """The highest whole percentile (50..99) that still has at least
    TAIL_BEYOND samples above its rank, as (percentile, value, n).

    With fewer than 2 * TAIL_BEYOND samples no such tail exists and the
    median is returned as percentile 50."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None, None, 0
    for pct in range(99, 49, -1):
        k = max(1, math.ceil(pct * n / 100))
        if n - k >= TAIL_BEYOND:
            return pct, s[k - 1], n
    return 50, statistics.median(s), n


def fastest(values, k):
    """Indices of the k smallest values (all of them if there are fewer),
    ties to the earlier."""
    order = sorted(range(len(values)), key=lambda i: (values[i], i))
    return set(order[:k])


def _close(a, b):
    if isinstance(a, (float, decimal.Decimal)) or isinstance(b, (float, decimal.Decimal)):
        return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=FLOAT_REL_TOL)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _canonical(cols, rows):
    """Rows with their columns in name order, sorted with floats
    coarsened, so two results that differ only in float rounding line
    up row for row."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]

    def key(row):
        return tuple("%.6g" % float(v) if isinstance(v, (float, decimal.Decimal)) else repr(v) for v in row)

    return sorted(out, key=key)


def rows_match(cols_a, rows_a, cols_b, rows_b):
    """The two results hold the same multiset of rows, with floats equal
    to a relative FLOAT_REL_TOL."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    return all(
        _close(x, y)
        for ra, rb in zip(_canonical(cols_a, rows_a), _canonical(cols_b, rows_b))
        for x, y in zip(ra, rb)
    )


def entry_family(name):
    """Family of one top-level layout entry: 'table', a sidecar family,
    or None for anything else (markers, ingest ledgers)."""
    m = _LAYOUT_ENTRY.match(name)
    if not m:
        return None
    suffix = m.group("suffix")
    if suffix is None:
        return "table"
    if suffix.startswith("knn-graph"):
        return "knn-graph"
    family = re.split(r"[-.]", suffix, maxsplit=1)[0]
    return family if family in SIDECAR_FAMILIES else None


def classify_input_file(path):
    """Sort one `DataFrame.inputFiles()` entry into ('base', table),
    ('sidecar', family) or ('other', None), by the innermost
    `<table>.parquet[.<suffix>]` directory on its path."""
    parts = re.sub(r"^[a-z]+:(//)?", "", path).split("/")
    for part in reversed(parts[:-1]):
        family = entry_family(part)
        if family == "table":
            return "base", _LAYOUT_ENTRY.match(part).group("table")
        if family is not None:
            return "sidecar", family
    return "other", None


def census(paths):
    """{'base': n, 'sidecar': n, 'other': n, 'families': {family: n}}."""
    out = {"base": 0, "sidecar": 0, "other": 0, "families": {}}
    for p in paths:
        kind, fam = classify_input_file(p)
        out[kind] += 1
        if kind == "sidecar":
            out["families"][fam] = out["families"].get(fam, 0) + 1
    return out


def tree_bytes(path):
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


def layout_bytes(layout_dir):
    """Bytes under a layout directory by family, plus 'total' (which
    also counts entries of no family)."""
    out = {f: 0 for f in BYTE_FAMILIES}
    total = 0
    for name in sorted(os.listdir(layout_dir)):
        p = os.path.join(layout_dir, name)
        b = tree_bytes(p) if os.path.isdir(p) else os.lstat(p).st_size
        total += b
        fam = entry_family(name)
        if fam is not None:
            out[fam] += b
    out["total"] = total
    return out


def cpu_ticks():
    """(steal, total) jiffies of the whole machine from /proc/stat, or
    None where there is no /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings."""
    if before is None or after is None or after[1] == before[1]:
        return 0.0
    return (after[0] - before[0]) / (after[1] - before[1])


class Tracer:
    """In-memory spans. Every span carries the id of the operation it
    belongs to; nesting follows the `with` blocks."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name, op=None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)


def duration(span):
    return span["t1"] - span["t0"]


def self_times(spans):
    """{span name: summed self time}, where a span's self time is its
    duration minus the durations of its direct children (never < 0)."""
    child_time = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + duration(s)
    out = {}
    for s in spans:
        own = max(0.0, duration(s) - child_time.get(s["id"], 0.0))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
