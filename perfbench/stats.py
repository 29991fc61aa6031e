"""Pure helpers of the benchmark: percentiles, geomean, slowdown, span
self time, output canonicalization and digests. No Spark, no I/O."""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

import numpy as np
import pandas as pd

#: Percentiles a timing may be reported at, lowest first.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def supported_percentile(n: int, tail: int = 10) -> float | None:
    """The highest of ``PERCENTILES`` that leaves at least ``tail``
    samples beyond it out of ``n`` (p90 needs 100 samples, p99 1000);
    ``None`` when even the median is not supported."""
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= tail:  # 100 - 99.9 is not exact
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError(f"geomean needs positive values, got {xs!r}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def slowdowns(samples: Mapping[str, Sequence[float]]) -> list[float]:
    """Every sample divided by its own query's median sample."""
    out = []
    for xs in samples.values():
        m = median(xs)
        out.extend(x / m for x in xs)
    return out


def tail_summary(values: Sequence[float]) -> dict:
    """Median plus the highest supported percentile, with the count."""
    p = supported_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0) if values else None,
        "tail_pct": p,
        "tail": percentile(values, p) if p is not None else None,
    }


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once; child time outside the parent is ignored). Spans are
    mappings with ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _cell(v) -> str:
    """One cell as text that is equal exactly when the values are: NULL
    markers collapse to one token, floats keep every bit (``-0.0``
    stays distinct from ``0.0``), containers recurse."""
    if v is None or v is pd.NA:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if f != f else float.hex(f)
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v.item() if isinstance(v, np.generic) else v)


def canonical_rows(df) -> list[str]:
    """Order-insensitive canonical form of a result frame: columns in
    sorted order, each row rendered cell by cell, rows sorted."""
    cols = sorted(df.columns)
    header = "|".join(cols)
    rows = sorted("|".join(_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    return [header, *rows]


def frame_digest(df) -> str:
    """sha256 of :func:`canonical_rows`; equal for frames that hold the
    same rows in any order."""
    h = hashlib.sha256()
    for line in canonical_rows(df):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
