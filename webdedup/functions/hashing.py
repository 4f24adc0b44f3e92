"""Engine-portable deterministic hashing.

One hash family, three implementations that agree bit-for-bit:

- ``*_py``   : Python/numpy (used inside Arrow-batched pandas UDFs — the
               production path);
- ``*_col``  : PySpark Column expressions (used where a whole stage can stay
               JVM-side in WholeStageCodegen);
- ``*_sql``  : DuckDB SQL fragments (used by ``__spark_entry__.oracle_sql`` so
               the driver's Spark-vs-DuckDB comparison is exact).

Base primitive: ``h60(s) = int(md5(s)[:15 hex], 16)`` — a 60-bit non-negative
integer that fits a signed 64-bit long in every engine.  ``h32`` is the first
8 hex chars (32 bits), used where products must stay inside uint64
(MinHash universal hashing).

The reference hashes tokens with ``std::hash<string>`` (``simhash.cpp:97-102``)
— implementation-defined and unusable for distributed determinism; md5 is the
portable replacement (SURVEY §2.8).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^61 - 1: modulus for MinHash universal hashing.
# Coefficients span the full field (see minhash_perms); the numpy side uses
# the exact rotate-based modmul in perm_mod_p, the DuckDB side HUGEINT.
MERSENNE61 = (1 << 61) - 1

# Version of the signature SCHEME (the mapping text -> simhash/minhash
# VALUES, independent of any config knob).  Bump whenever an implementation
# change alters produced signature values for the same input + config —
# persisted signature stores stamped with a different version must be
# rebuilt, because stored signatures would silently never match fresh ones
# (r5 ADVICE: the 31-bit -> 61-bit MinHash coefficient fix was exactly such
# a change).  History: 1 = rounds 1-4 (31-bit minhash coefficients);
# 2 = round 5+ (full 61-bit coefficients, exact Mersenne rotate-modmul).
SIG_SCHEME_VERSION = 2


# ---------------------------------------------------------------------------
# Python / numpy
# ---------------------------------------------------------------------------

# NOTE: deliberately NO lru_cache on these.  Shingle/anchor inputs are
# mostly unique at scale, so a big global cache degenerates into pure
# eviction churn — and because Spark REUSES python workers across stages,
# a full cache poisons every later UDF stage in the session (measured 2-7x
# progressive slowdown).  Token-level caching, where the vocabulary is
# naturally small, is done with bounded per-batch dicts inside the UDFs.

def h60_py(s: str) -> int:
    """60-bit md5-derived hash (first 15 hex chars == first 60 bits of the
    digest; parsed from the raw bytes, ~25% cheaper than hexdigest+int —
    r7, same value)."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8],
                          "big") >> 4


def h64_split_py(s: str) -> tuple[int, int]:
    """(hi32, lo32): first/second 8 hex chars of md5 — a portable 64-bit hash
    delivered as two 32-bit halves so SQL engines never overflow."""
    d = hashlib.md5(s.encode("utf-8")).digest()
    return int.from_bytes(d[:4], "big"), int.from_bytes(d[4:8], "big")


def h32_py(s: str) -> int:
    """32-bit md5-derived hash (first 8 hex chars)."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:4], "big")


def to_signed64(u: int) -> int:
    """Reinterpret an unsigned 64-bit value as signed (two's complement)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def minhash_perms(num_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) coefficients for ``sig_i = min((a_i*h32 + b_i) % p)``,
    drawn over the FULL 61-bit field ``[1, p)`` / ``[0, p)``.

    Why full-width (r5 fix): with the earlier 31-bit coefficients,
    ``a*h + b`` never wrapped the Mersenne modulus for small ``h32`` —
    a shingle whose 32-bit hash happened to be tiny produced a permuted
    value ~h·a ≪ p at EVERY permutation and won every min, so one such
    shingle in the non-shared part of a pair drove the signature estimate
    of a true J≈0.94 pair to ≈0 (measured on the fixture corpus:
    agreement 1/128 at set-Jaccard 0.94).  With 61-bit ``a`` the product
    wraps the modulus for every ``h >= 1``, restoring the uniformity the
    MinHash estimator needs.  The numpy side computes the SAME exact
    value via the Mersenne rotate trick (``perm_mod_p``); the DuckDB twin
    computes it directly in HUGEINT (a·h < 2^93).

    Generated once on the driver from the fixed seed and broadcast via UDF
    closure — the distributed analog of the reference's ``srand(42)``
    hyperplane generation (``simhash.cpp:149-174``).
    """
    rng = np.random.RandomState(seed)
    # RandomState.randint caps high at 2^63 for int64: draw 61-bit values
    # from two 31-bit words (exactly reproducible everywhere)
    def draw(low: int) -> np.ndarray:
        while True:
            hi = rng.randint(0, 1 << 30, size=num_perms, dtype=np.int64)
            lo = rng.randint(0, 1 << 31, size=num_perms, dtype=np.int64)
            v = (hi << 31) | lo  # < 2^61
            if ((v >= low) & (v < MERSENNE61)).all():
                return v
    a = draw(1)
    b = draw(0)
    return a.astype(np.uint64), b.astype(np.uint64)


_P61 = np.uint64(MERSENNE61)
_M32 = np.uint64(0xFFFFFFFF)


def _fold61(x: np.ndarray) -> np.ndarray:
    """x (uint64, any value) -> x mod (2^61 - 1), branch-free."""
    x = (x >> np.uint64(61)) + (x & _P61)
    return np.where(x >= _P61, x - _P61, x)


def perm_mod_p(a: np.ndarray, b: np.ndarray, hs: np.ndarray) -> np.ndarray:
    """Exact ``(a[:,None]*hs[None,:] + b[:,None]) mod (2^61-1)`` for
    a, b < 2^61 and hs < 2^32, entirely in uint64 (no overflow):

    split ``a = a_hi·2^32 + a_lo``; ``a_lo·h < 2^64`` folds directly;
    ``a_hi·h < 2^61`` is multiplied by 2^32 as a 61-bit ROTATE (for the
    Mersenne modulus, ``v·2^k mod p`` is rotl61(v, k)); the three terms
    sum below 2^63 and fold once.  Matches the DuckDB twin's
    ``(a::HUGEINT * h + b) % p`` bit-for-bit.
    """
    a = a[:, None]
    b = b[:, None]
    h = hs[None, :]
    lo = _fold61((a & _M32) * h)
    hi = _fold61((a >> np.uint64(32)) * h)   # a_hi < 2^29 -> product < 2^61
    rot = ((hi << np.uint64(32)) & _P61) | (hi >> np.uint64(29))
    return _fold61(lo + rot + b)


def hyperplanes(num_bits: int, dim: int, seed: int) -> np.ndarray:
    """Seeded gaussian hyperplanes for vector SimHash — semantics of the
    reference's Box-Muller generation under ``srand(42)``
    (``simhash.cpp:152-174``), realized as ``RandomState(seed).randn``."""
    return np.random.RandomState(seed).randn(num_bits, dim)


# ---------------------------------------------------------------------------
# PySpark Column expressions
# ---------------------------------------------------------------------------

def h60_col(c: Column) -> Column:
    """Spark: 60-bit md5 hash of a string column (JVM-side, codegen-able)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# DuckDB SQL fragments (oracle side)
# ---------------------------------------------------------------------------

def h60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def h32_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def h64_hi_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def h64_lo_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 9, 8))::BIGINT)"
