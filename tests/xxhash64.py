"""Pure-Python XXH64 (xxHash, public-domain algorithm by Yann Collet —
spec at github.com/Cyan4973/xxHash), parameterized by seed.

Spark's ``F.xxhash64(col)`` hashes a string column's UTF-8 bytes with
seed 42; this implementation reproduces it bit-for-bit (pinned against
the JVM in tests/test_xxhash.py).  It is the reference that
textstats.fingerprints(method="xxhash64") is tested against
(tests/test_datapipe.py), since DuckDB has no xxhash64.
"""

from __future__ import annotations

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * P2) & _M
    acc = _rotl(acc, 31)
    return (acc * P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * P1) + P4) & _M


def xxhash64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned 64-bit XXH64 of data."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed & _M
        v4 = (seed - P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little")); i += 8
            v2 = _round(v2, int.from_bytes(data[i : i + 8], "little")); i += 8
            v3 = _round(v3, int.from_bytes(data[i : i + 8], "little")); i += 8
            v4 = _round(v4, int.from_bytes(data[i : i + 8], "little")); i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + P5) & _M

    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * P1) + P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & _M
        h = ((_rotl(h, 23) * P2) + P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1

    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def xxhash64_signed(s: str, seed: int = SPARK_SEED) -> int:
    """Signed 64-bit, matching Spark's LongType output of F.xxhash64."""
    h = xxhash64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h
