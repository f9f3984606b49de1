"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` (seed 42) on
string columns — ``DriverVocabularyPipeline`` routes every epoch's
collected rows with it, to the shards Spark's ``pmod(xxhash64(cast(token
as string)), n_shards)`` computes: the rule perfbench's ``check_vocab``
routes its oracle replay by.

Spark's XxHash64 expression is the standard XXH64 algorithm over the
UTF-8 bytes of the string (catalyst XXH64, little-endian strides of
8/4/1). Parity with the JVM implementation is pinned by a hypothesis
test hashing random strings through BOTH paths
(tests/test_xxhash_parity.py) — if Spark ever changed its tail
handling, that test is the tripwire.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned 64-bit XXH64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64_string(s: str, seed: int = 42) -> int:
    """SIGNED 64-bit value identical to ``F.xxhash64(string_col)``."""
    u = xxh64(s.encode("utf-8"), seed)
    return u - (1 << 64) if u >= (1 << 63) else u


def spark_shard(s: str, n_shards: int, seed: int = 42) -> int:
    """``F.pmod(F.xxhash64(col), n_shards)`` for a string value —
    python's % on a positive modulus is already pmod semantics."""
    return spark_xxhash64_string(s, seed) % n_shards
