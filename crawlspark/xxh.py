"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` on string columns.

Spark computes ``XXH64(utf8_bytes(s), seed=42)`` and returns the result as a
*signed* 64-bit long.  This module reproduces that exactly (public XXH64
algorithm, Yann Collet, BSD) so the sequential oracle simulator
(tests/oracle_ref.py) and the fixture generators can agree bit-for-bit with
the engine's JVM-side hashes without ever shipping strings into Python at
runtime.  Parity is asserted in tests/unit/test_xxh.py.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _merge(h: int, v: int) -> int:
    h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
    return ((h * _P1) + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned XXH64 of ``data`` with ``seed`` (default = Spark's 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            for _ in range(1):
                k1 = int.from_bytes(data[i : i + 8], "little")
                k2 = int.from_bytes(data[i + 8 : i + 16], "little")
                k3 = int.from_bytes(data[i + 16 : i + 24], "little")
                k4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v1 = (_rotl((v1 + k1 * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + k2 * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + k3 * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + k4 * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h ^= k
        h = ((_rotl(h, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & _M
        h = ((_rotl(h, 23) * _P2) + _P3) & _M
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


def to_signed64(u: int) -> int:
    """Map unsigned 64-bit to Spark's signed BIGINT representation."""
    return u - (1 << 64) if u >= (1 << 63) else u


def xxh64_str(s: str, seed: int = SPARK_SEED) -> int:
    """Signed XXH64 of a string — bit-equal to Spark ``F.xxhash64(col)``."""
    return to_signed64(xxh64(s.encode("utf-8"), seed))
