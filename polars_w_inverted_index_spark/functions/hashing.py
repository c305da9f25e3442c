"""Cross-engine deterministic hashing.

Dedup/minhash/simhash need hash functions that produce IDENTICAL values in
Spark (the engine) and DuckDB (the correctness oracle).  Native 64-bit
hashes differ (Spark xxhash64/murmur vs DuckDB's hash), so we derive a
60-bit integer from an md5 prefix — md5 is bit-identical everywhere:

    spark:  conv(substring(md5(s), 1, 15), 16, 10)  :: long
    duckdb: ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex chars = 60 bits < 2^63, so the value is always a non-negative long.
A ``salt`` namespace turns one hash into a family (minhash permutations).

At 100 TB this stays JVM-side whole-stage-codegen (md5/conv/substring are
built-in expressions) — no Python in the hot path.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60
HASH_MAX = (1 << 60) - 1


def md5_long(col: Column | str, salt: int | None = None) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(F.lit(f"{salt}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str, salt: int | None = None) -> str:
    """The DuckDB-SQL twin of :func:`md5_long`. ``expr`` is a SQL string."""
    inner = f"'{salt}:'||{expr}" if salt is not None else expr
    return f"(('0x'||substr(md5({inner}),1,15))::BIGINT)"


# ---------------------------------------------------------------------------
# Universal hash family over one base hash (the MinHash permutation family)
# ---------------------------------------------------------------------------
# One md5 per input string, then h_j(x) = (a_j·h + b_j) mod p for each of the
# k permutations — integer multiply-adds instead of k md5 string pipelines
# (~16× less work in the minhash hot path; identical arithmetic in DuckDB).
# p = 2^31-1 (Mersenne); base and a_j < p keep every product < 2^62, so the
# BIGINT math never overflows in either engine.

UH_PRIME = (1 << 31) - 1


def uh_params(j: int) -> tuple[int, int]:
    """Deterministic (a_j, b_j) for permutation ``j`` — digits of md5, the
    same constants on both engines because they're computed here once."""
    import hashlib

    a = int(hashlib.md5(f"uh-a:{j}".encode()).hexdigest()[:15], 16)
    b = int(hashlib.md5(f"uh-b:{j}".encode()).hexdigest()[:15], 16)
    return a % (UH_PRIME - 1) + 1, b % UH_PRIME


def uh_base(col: Column | str) -> Column:
    """Base hash reduced into the field: md5_long(x) mod p."""
    return F.pmod(md5_long(col), F.lit(UH_PRIME))


def uh_base_sql(expr: str) -> str:
    return f"({md5_long_sql(expr)} % {UH_PRIME})"


def uh_apply_sql(base_expr: str, j: int) -> str:
    a, b = uh_params(j)
    return f"(({base_expr} * {a} + {b}) % {UH_PRIME})"


# XXH64 constants (the reference algorithm Spark's ``xxhash64`` uses)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one string or binary value, computed on
    the driver: XXH64 of ``data`` (a string's UTF-8 bytes) under Spark's
    default seed 42, as the signed long Spark returns.  Lets a driver
    name the hash bucket ``pmod(xxhash64(v), B)`` of a literal without
    a Spark job."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64,
            seed & _M64, (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_xxh_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _xxh_round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((k * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h
