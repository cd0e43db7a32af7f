"""Pure helpers: medians, quartiles and table digests."""

from __future__ import annotations

import hashlib
import statistics
from typing import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them — the run-to-run spread a metric's bound is judged against."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, _, q3 = statistics.quantiles(values, n=4)
    mid = median(values)
    return (q3 - q1) / mid if mid else float("inf")


def row_digest(row: Iterable[object]) -> int:
    """64-bit hash of one row's values in column order."""
    basis = "\x1f".join("\x00" if v is None else repr(v) for v in row)
    return int.from_bytes(hashlib.sha256(basis.encode()).digest()[:8], "big")


def table_digest(rows: Iterable[Iterable[object]]) -> str:
    """Order-independent content digest of a table: the sum of per-row
    hashes mod 2**64, so any row order gives the same value and a
    duplicated row changes it."""
    total = 0
    for row in rows:
        total = (total + row_digest(row)) % 2**64
    return f"{total:016x}"
