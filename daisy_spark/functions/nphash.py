"""Vectorized numpy replica of Spark's ``xxhash64`` over LONG inputs.

Spark's ``XxHash64`` expression folds its children left-to-right:
``xxhash64(a, b) = hashLong(b, hashLong(a, 42))`` where ``hashLong`` is
the XXH64 single-8-byte-stripe path
(org.apache.spark.sql.catalyst.expressions.XxHash64Function /
``XXH64.hashLong``).  Replicating it bit-exactly lets an Arrow-batched
operator compute the same hash family as the JVM expression — required
wherever a Python-side rewrite must keep its output byte-identical to a
JVM ``xxhash64`` pipeline (MinHash signatures).

Exactness is pinned by ``tests/test_optimizations_r13.py::test_nphash_*``
against the live Spark expression over random and edge-case longs.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    inv = np.uint64(64 - r)
    return (x << r_) | (x >> inv)


def hash_long(value, seed) -> np.ndarray:
    """XXH64 of one 8-byte (long) input — exact Spark ``hashLong``.

    ``value``/``seed`` may be scalars or broadcastable uint64 arrays.
    """
    with np.errstate(over="ignore"):
        v = np.asarray(value).astype(np.uint64)
        s = np.asarray(seed).astype(np.uint64)
        acc = s + _P5 + np.uint64(8)
        k1 = v * _P2
        k1 = _rotl(k1, 31)
        k1 = k1 * _P1
        acc = acc ^ k1
        acc = _rotl(acc, 27) * _P1 + _P4
        # fmix
        acc ^= acc >> np.uint64(33)
        acc = acc * _P2
        acc ^= acc >> np.uint64(29)
        acc = acc * _P3
        acc ^= acc >> np.uint64(32)
        return acc


def hash_int(value, seed) -> np.ndarray:
    """XXH64 of one 4-byte (int) input — exact Spark ``hashInt``.

    Spark hashes an IntegerType child through this 4-byte path, so a
    literal ``F.lit(i)`` family index must be replicated with hash_int,
    not hash_long.
    """
    with np.errstate(over="ignore"):
        v = np.asarray(value).astype(np.uint64) & np.uint64(0xFFFFFFFF)
        s = np.asarray(seed).astype(np.uint64)
        acc = s + _P5 + np.uint64(4)
        acc = acc ^ (v * _P1)
        acc = _rotl(acc, 23) * _P2 + _P3
        # fmix
        acc ^= acc >> np.uint64(33)
        acc = acc * _P2
        acc ^= acc >> np.uint64(29)
        acc = acc * _P3
        acc ^= acc >> np.uint64(32)
        return acc


def xxhash64_longs(*cols, seed: int = 42) -> np.ndarray:
    """``xxhash64(c1, c2, ...)`` over long numpy arrays, bit-exact with
    the Spark expression (left-to-right seed chaining, seed 42).

    Returns int64 (the JVM hash is a signed long).
    """
    acc = np.uint64(seed)
    for c in cols:
        acc = hash_long(np.asarray(c, dtype=np.int64).view(np.uint64), acc)
    return acc.view(np.int64)
