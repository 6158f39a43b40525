"""Pure-Python xxHash64, bit-identical to Spark's ``F.xxhash64`` on
string columns.

Why this exists: ``DistributedRanker`` prunes the block scan to the query
terms' partition buckets (``bucket = pmod(xxhash64(term), B)``, assigned
at build time in ``plans/index_build.py:409``).  Computing that bucket at
query time with a Spark job (``createDataFrame([...]).collect()``) costs
a ~100 ms driver-side job submission in a serving path whose p95 budget
is ~10 ms.  xxHash64 is a short public algorithm (Yann Collet, 2012,
BSD-2; spec at github.com/Cyan4973/xxHash), and Spark's Catalyst
``XxHash64`` expression hashes a string's UTF-8 bytes with the canonical
algorithm at seed 42 — so the driver can compute the bucket in
microseconds with no job at all.

``tests/test_distributed.py`` validates this implementation against
``F.xxhash64`` over a few hundred adversarial strings (every tail length
0-40, unicode, empty) so a Spark-side change would be caught.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_MASK = 0xFFFFFFFFFFFFFFFF
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Canonical XXH64 over ``data``; returns a SIGNED 64-bit int to
    match Spark's long-typed ``xxhash64`` output.  Spark's default seed
    is 42."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, buckets: int) -> int:
    """``pmod(xxhash64(term), buckets)`` exactly as the index build
    assigns block partitions — Python's ``%`` on a positive modulus IS
    pmod (non-negative result for any sign of the hash)."""
    return xxhash64(term.encode("utf-8")) % buckets


def term_bucket_expr(buckets: int):
    """The build's block/term_tf partition of a ``term`` column:
    ``pmod(xxhash64(term), buckets)`` as an int Catalyst expression, the
    Spark-side twin of :func:`term_bucket`."""
    return F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
