"""Pure-Python XXH64 — driver-side twin of Spark's ``xxhash64`` expression.

Why this exists (guide §6: make predicate pushdown reach the scan): the
materialized index lays postings/blocks out as ``bucket=pmod(xxhash64(term), B)``
partition directories (plans/checkpoint.py). Query terms are known on the
driver, so the bucket ids they hash to are driver-computable — pushing
``bucket IN (...)`` alongside ``term IN (...)`` lets Catalyst partition-prune
B−B' directories out of the scan instead of reading every bucket's footer.
Spark's ``xxhash64`` has no driver-side API, hence this implementation of the
public xxHash64 algorithm (https://github.com/Cyan4973/xxHash — spec in
doc/xxhash_spec.md); Spark hashes the UTF-8 bytes of a string with seed 42.

``tests/test_hashing.py`` pins this against the real Spark expression over the
full synthetic vocabulary plus adversarial strings (empty, multi-byte UTF-8,
all lengths 0..40) — any drift between the two implementations fails loudly.
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


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` with ``seed`` (Spark's default seed is 42), as the
    SIGNED 64-bit value Spark's ``xxhash64`` column returns."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        acc = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        acc = _merge(acc, v1)
        acc = _merge(acc, v2)
        acc = _merge(acc, v3)
        acc = _merge(acc, v4)
    else:
        acc = (seed + _P5) & _M
    acc = (acc + n) & _M
    while i + 8 <= n:
        acc ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        acc = (_rotl(acc, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        acc = (_rotl(acc, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        acc ^= (data[i] * _P5) & _M
        acc = (_rotl(acc, 11) * _P1) & _M
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M
    acc ^= acc >> 29
    acc = (acc * _P3) & _M
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def term_bucket(term: str, n_buckets: int) -> int:
    """``pmod(xxhash64(term), n_buckets)`` exactly as Spark computes it for the
    bucket partition column (plans/checkpoint.py write_term_buckets)."""
    h = xxhash64(term.encode("utf-8"))
    return ((h % n_buckets) + n_buckets) % n_buckets
