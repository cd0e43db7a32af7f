"""Vectorized MinHash signature kernel (numpy, Arrow-batched).

The all-JVM signature pipeline (the oracle in tests/test_operators.py)
builds each document's shingle array with a higher-order-function
``transform`` — ~1 interpreted substr call per shingle, the same
outside-codegen class the round-4 repetition-stats rework removed — then
explodes ~300 rows per doc into a 64-min hash aggregate. This kernel
computes the identical signature per document inside one Arrow batch:

* shingle windows via ``numpy.sliding_window_view`` over the UTF-8 bytes
  (ASCII fast path; multi-byte docs fall back to a serial per-shingle
  walk that mirrors kernel/expected.py:_char_shingles);
* XXH64 (seed 42, Spark's ``xxhash64``) evaluated lane-by-lane over the
  whole (windows x width) byte matrix in uint64 numpy arithmetic —
  bit-identical to kernel/xxhash.py (asserted in tests);
* the (a*h+b) mod 2^31-1 family mins as one (shingles x num_hashes)
  matrix reduction.

Normalization matches operators/textstats.char_ngrams exactly: JAVA
``\\s`` is ASCII-only ([ \\t\\n\\x0B\\f\\r]), so the replay regex must not
use Python's unicode-aware ``\\s`` (same rule as kernel/expected.py).

The hash-family constants here are the single source of truth; the JVM
oracle form (tests/test_operators.py) and the serial oracle replay
(kernel/expected.py) import them, so all three paths stay pinned.
"""

from __future__ import annotations

import re
import sys

import numpy as np

from .xxhash import spark_xxhash64

MERSENNE31 = (1 << 31) - 1

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# xxh64_rows assumes host little-endian when viewing byte lanes as words
_LITTLE = sys.byteorder == "little"


def hash_family(seed: int) -> tuple[int, int]:
    """(a, b) for the (a*h+b) mod 2^31-1 permutation family; constants fixed
    for reproducibility, a forced nonzero."""
    a = (0x9E3779B97F4A7C15 * (seed + 1)) % MERSENNE31
    b = (0xC2B2AE3D27D4EB4F * (seed + 7)) % MERSENNE31
    return (a or 1), b


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_rows(rows: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of each row of an (m, width) uint8 array, width < 32 —
    bit-identical to kernel/xxhash.py's scalar walk, evaluated as ~25
    whole-matrix uint64 ops instead of m Python loops."""
    rows = np.ascontiguousarray(rows)
    m, width = rows.shape
    assert width < 32, "short-input path only (no 32-byte stripe loop)"
    h = np.full(m, np.uint64((seed + int(_P5) + width) & ((1 << 64) - 1)), dtype=np.uint64)
    i = 0
    while i <= width - 8:
        lane = rows[:, i : i + 8].copy().view("<u8").ravel()
        k1 = _rotl(lane * _P2, 31) * _P1
        h = _rotl(h ^ k1, 27) * _P1 + _P4
        i += 8
    if i <= width - 4:
        lane4 = rows[:, i : i + 4].copy().view("<u4").ravel().astype(np.uint64)
        h = _rotl(h ^ (lane4 * _P1), 23) * _P2 + _P3
        i += 4
    while i < width:
        h = _rotl(h ^ (rows[:, i].astype(np.uint64) * _P5), 11) * _P1
        i += 1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def _shingle_hashes(text: str | None, shingle_len: int) -> np.ndarray:
    """Distinct pmod(xxhash64(shingle), 2^31-1) values of the document's
    character shingles, as int64 — the JVM pipeline's ``__h`` column."""
    s = _JAVA_WS.sub(" ", (text or "").lower())
    if len(s) < shingle_len:
        return np.array([spark_xxhash64(s) % MERSENNE31], dtype=np.int64)
    b = s.encode("utf-8")
    # pure ASCII: byte windows ARE char windows; xxh64_rows is short-input
    # only (width < 32), so wide shingles take the serial walk below
    if _LITTLE and len(b) == len(s) and shingle_len < 32:
        windows = np.lib.stride_tricks.sliding_window_view(
            np.frombuffer(b, dtype=np.uint8), shingle_len
        )
        h = xxh64_rows(windows).view(np.int64)
        # dups don't change the family mins; unique only shrinks the matrix
        return np.unique(np.remainder(h, MERSENNE31))
    if _LITTLE and shingle_len * 4 < 32:
        return _multibyte_hashes(b, shingle_len)
    hs = {spark_xxhash64(s[i : i + shingle_len]) % MERSENNE31 for i in range(len(s) - shingle_len + 1)}
    return np.fromiter(hs, dtype=np.int64, count=len(hs))


def _multibyte_hashes(b: bytes, shingle_len: int) -> np.ndarray:
    """Vectorized shingle hashes for non-ASCII text — multilingual web
    corpora would otherwise pay a serial Python XXH64 per shingle.

    Character starts are the UTF-8 lead bytes ((b & 0xC0) != 0x80, one per
    code point — Python strings have no surrogates), so shingle i spans
    bytes [start[i], start[i+shingle_len]). Window widths vary with the
    characters' encoded lengths (shingle_len..4*shingle_len bytes); group
    the shingles by width and run each class as ONE fixed-width matrix
    through xxh64_rows — identical bytes, identical hashes, ~number-of-
    distinct-widths kernel calls instead of one Python hash per shingle."""
    arr = np.frombuffer(b, dtype=np.uint8)
    starts = np.flatnonzero((arr & 0xC0) != 0x80)
    n = len(starts) - shingle_len + 1  # len(s) >= shingle_len was checked
    ends = np.empty(n, dtype=np.int64)
    ends[:-1] = starts[shingle_len:]
    ends[-1] = len(arr)
    begins = starts[:n]
    widths = ends - begins
    out = np.empty(n, dtype=np.int64)
    for w in np.unique(widths):
        idx = np.flatnonzero(widths == w)
        rows = arr[begins[idx][:, None] + np.arange(w)[None, :]]
        out[idx] = xxh64_rows(rows).view(np.int64)
    return np.unique(np.remainder(out, MERSENNE31))


def family_matrix(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    fam = [hash_family(i) for i in range(num_hashes)]
    return (
        np.array([a for a, _ in fam], dtype=np.int64),
        np.array([b for _, b in fam], dtype=np.int64),
    )


def signature(text: str | None, shingle_len: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The document's MinHash signature (len(a) int64 values): min of each
    (a*h+b) mod 2^31-1 permutation over the shingle-hash set. Products stay
    < 2^62 (both factors < 2^31), so int64 never overflows."""
    hs = _shingle_hashes(text, shingle_len)
    return np.remainder(hs[:, None] * a[None, :] + b[None, :], MERSENNE31).min(axis=0)
