"""Spark's ``xxhash64`` in NumPy, for kernels that must draw the same hashes
in one process as ``F.xxhash64`` draws in a plan.

``xxhash64(a, b, …)`` chains XXH64 over its arguments from seed 42, each
hash seeding the next (Spark's ``XxHash64`` expression). An argument is an
int64 array or scalar (a Spark ``long``), an int32 one (an ``int``) or a
``str`` (its UTF-8 bytes, as a Spark string); arrays broadcast. All math
wraps in uint64, as Java's ``long`` does.
"""

from __future__ import annotations

import numpy as np

SPARK_SEED = 42
_P1, _P2, _P3, _P4, _P5 = (
    np.uint64(p)
    for p in (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v: np.ndarray, h: np.ndarray) -> np.ndarray:
    h = (h + _P5 + np.uint64(8)) ^ (_rotl(v.astype(np.uint64) * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_int(v: np.ndarray, h: np.ndarray) -> np.ndarray:
    h = (h + _P5 + np.uint64(4)) ^ (v.astype(np.uint32).astype(np.uint64) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_bytes(b: bytes, h: np.ndarray) -> np.ndarray:
    """XXH64 of a string shorter than 32 bytes (Spark's ``hashUnsafeBytes``
    below its 32-byte stripe loop)."""
    if len(b) >= 32:
        raise ValueError("strings of 32 or more bytes are not ported")
    h = h + _P5 + np.uint64(len(b))
    end8 = len(b) & ~7
    for i in range(0, end8, 8):
        h = h ^ (_rotl(np.uint64(int.from_bytes(b[i:i + 8], "little")) * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
    i = end8
    if i + 4 <= len(b):
        h = h ^ (np.uint64(int.from_bytes(b[i:i + 4], "little")) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        i += 4
    for c in b[i:]:
        h = _rotl(h ^ (np.uint64(c) * _P5), 11) * _P1
    return _fmix(h)


def xxhash64(*args) -> np.ndarray:
    """``F.xxhash64(*args)`` on NumPy values: an int64 array."""
    h = np.asarray(np.uint64(SPARK_SEED))
    with np.errstate(over="ignore"):
        for a in args:
            if isinstance(a, str):
                h = _hash_bytes(a.encode("utf-8"), h)
                continue
            a = np.asarray(a)
            if a.dtype == np.int64:
                h = _hash_long(a, h)
            elif a.dtype == np.int32:
                h = _hash_int(a, h)
            else:
                raise TypeError(f"xxhash64 takes int64, int32 or str arguments, got {a.dtype}")
    return h.astype(np.int64)
