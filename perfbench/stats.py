"""Small, dependency-free arithmetic the benchmark reports with."""

from __future__ import annotations

import hashlib
import json
import statistics

# percentiles considered for a tail figure, highest first
TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``TAIL_PERCENTILES`` that has at least
    ten of ``n`` samples beyond it, or None when not even the median
    does (fewer than 20 samples)."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) >= 1000:  # n * (1 - p/100) >= 10, exactly
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))
    return ordered[int(rank) - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def summary(values: list[float]) -> dict:
    """Sample count, median, and the tail percentile when one has ten
    samples beyond it."""
    out = {"n": len(values), "median": median(values)}
    p = tail_percentile(len(values))
    if p is not None and p > 50:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (the union, so overlapping children on other
    threads are not subtracted twice). A span is a dict with ``start``,
    ``end`` and ``parent`` (index into ``spans`` or None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"],
                                                         s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s["end"] - s["start"] - covered)
    return out


def row_digest(repo, path, sheet, row_id, cells) -> int:
    """64-bit digest of one result row's identity and content."""
    blob = json.dumps([repo, path, sheet, row_id,
                       None if cells is None else list(cells)],
                      separators=(",", ":"))
    return int.from_bytes(hashlib.blake2b(blob.encode(),
                                          digest_size=8).digest(), "little")


def state_hash(rows) -> str:
    """Order-independent hash of a multiset of
    ``(repo, path, sheet, row_id, cells)`` rows: the sum of the row
    digests modulo 2^64, with the row count, as hex."""
    total = 0
    n = 0
    for r in rows:
        total = (total + row_digest(*r)) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return f"{n}:{total:016x}"
