"""Sample summaries and the order-independent cluster digest."""

from __future__ import annotations

import hashlib
import statistics
from collections.abc import Iterable


def summarize(values: list[float]) -> dict:
    """Sample count, median and quartiles (``statistics.quantiles``, n=4,
    its default exclusive method). One sample is its own quartiles."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        q1 = med = q3 = float(values[0])
    else:
        q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}


def cluster_digest(rows: Iterable[tuple[str, str]]) -> str:
    """sha256 over the sorted ``(url, cluster_id)`` rows: equal for equal
    clusterings whatever order the rows were read in."""
    h = hashlib.sha256()
    for url, cid in sorted(rows):
        h.update(f"{url}\t{cid}\n".encode())
    return h.hexdigest()
