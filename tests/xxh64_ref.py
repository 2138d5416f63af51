"""Pure-Python XXH64 — the reference the gram-hash tests compare against.

Spark's ``xxhash64(c1, c2, ...)`` hashes each argument with XXH64 (seed 42),
each hash seeding the next: strings as their UTF-8 bytes
(``XXH64.hashUnsafeBytes``), longs as 8 little-endian bytes
(``XXH64.hashLong``). Results are signed 64-bit, as the JVM holds them."""

from __future__ import annotations

import struct

P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261
M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * P2) & M, 31) * P1) & M


def xxh64(data: bytes, seed: int) -> int:
    """Unsigned XXH64 of ``data``."""
    seed &= M
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed, (seed - P1) & M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M
        for x in v:
            h = ((h ^ _round(0, x)) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * P1) & M
        h = (_rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (_rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    return h ^ (h >> 32)


def spark_xxhash64(*vals: str | int) -> int:
    """``F.xxhash64(*vals)`` for non-null string and long arguments."""
    h = 42
    for v in vals:
        data = v.encode() if isinstance(v, str) else struct.pack("<q", v)
        h = xxh64(data, h)
        h = h - (1 << 64) if h >> 63 else h
    return h


def gram_hash(*words: str) -> int:
    """``dedup.gram_hashes`` of one n-gram: the word's hash for n == 1,
    else the hash of the n word hashes."""
    wh = [spark_xxhash64(w) for w in words]
    return wh[0] if len(wh) == 1 else spark_xxhash64(*wh)
